"""Continuous (streaming) tier materialization.

The reference is batch-only (no watermarks, no stateful operators —
SURVEY.md §2.9), and the north rule's continuous aggregates are batch
rollups; this module is the *incremental-ingest* mode of the same 1m
tier: new sequence files appear under a directory, Structured
Streaming folds them into the finest tier with exactly the batch
partial-aggregate schema, so the 1h/1d cascade and all readers are
oblivious to which mode produced the minutes.

Design (Spark-first):
- ``readStream`` file source over the sequence directory (schema
  pinned — streaming requires it).
- Event-time tumbling window of 1 minute + watermark for late data;
  append output mode emits a minute only once its watermark passes —
  the streaming analog of a closed tier bucket.
- Sink = parquet directory with checkpointLocation: exactly-once file
  sink; resume = restart with the same checkpoint (the streaming
  analog of the batch pipeline's snapshot/lineage resume).
- ``trigger(availableNow=True)`` drains what exists then stops, which
  is also how the test drives it deterministically.

Every twin below except ``continuous_ingest_dedup`` is a binding of a
``pipeline.partials`` spec to ``partials.stream``: the streamed rows
use exactly the batch family's aggregates, grouped by (window, keys…,
inner…) and emitted as (ts, keys…, inner…, partials…).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..pipeline.partials import BLOOM, CMS, HIST, PHLL, ROLLUP, SEQ_SCHEMA, stream
from ..timeaxis import with_time_axis


def continuous_rollup(
    spark: SparkSession, input_dir: str, tier_dir: str, checkpoint_dir: str, tier: str = "1m",
    watermark: str = "2 minutes", key_cols: tuple[str, ...] = ("source",),
):
    """Start the streaming 1m rollup; returns the StreamingQuery.

    Output schema matches pipeline.rollup.rollup_base exactly
    (ts, keys, n_tok_sum/count/min/max partials), so
    ``rollup_cascade`` consumes it unchanged.
    """
    return stream(ROLLUP, spark, input_dir, tier_dir, checkpoint_dir, tier, watermark, key_cols)


def continuous_hist(
    spark: SparkSession, input_dir: str, tier_dir: str, checkpoint_dir: str, tier: str = "1m",
    watermark: str = "2 minutes", key_cols: tuple[str, ...] = ("source",),
):
    """Streaming value-count HISTOGRAM partials — the incremental-ingest
    mode of ``pipeline.rollup.hist_base``. Output schema
    (ts, keys, v, cnt) is consumed unchanged by ``hist_cascade`` /
    ``hist_quantiles``, so exact tier percentiles stay available while
    data streams in. State per open bucket is bounded by the value
    domain (|domain| counters), the same bound that makes the batch
    partial composable."""
    return stream(HIST, spark, input_dir, tier_dir, checkpoint_dir, tier, watermark, key_cols)


def continuous_ingest_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """Streaming exact-dedup at ingest: drop sequences whose token
    content was already seen, BEFORE they reach the rollup/codec
    stages — the streaming twin of ``textops.exact_dedup``'s keeper
    selection, applied to the engine's native (doc_id, tokens, n_tok,
    source) table.

    Spark-first shape: the content key is the portable 60-bit md5 of
    the token stream (a pure column expression), and dedup state is
    BOUNDED by the event-time watermark via
    ``dropDuplicatesWithinWatermark`` — at 10^12 sequences an
    unbounded seen-set is impossible, so streaming dedup is windowed
    by construction (two identical sequences arriving farther apart
    than the watermark both pass; the batch exact_dedup pass remains
    the global authority). Exactly-once via the file-sink transaction
    log + checkpoint, like every stage here.
    """
    from ..textops.dedup import md5int

    stream = spark.readStream.schema(SEQ_SCHEMA).parquet(input_dir)
    seq = with_time_axis(stream)
    hashed = seq.withColumn(
        "content_hash",
        md5int(F.concat_ws(",", F.col("tokens").cast("array<string>"))),
    )
    deduped = hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    writer = (
        deduped.drop("content_hash")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def continuous_cascade(
    spark: SparkSession, finer_dir: str, tier_dir: str, checkpoint_dir: str, tier: str = "1h",
    watermark: str = "2 hours", key_cols: tuple[str, ...] = ("source",),
):
    """Materialize a coarser tier (1h/1d) FROM the streaming finer
    tier's parquet output — the streaming twin of
    ``pipeline.rollup.rollup_cascade``.

    The finer tier is itself an append-only stream of watermark-closed
    buckets (each (ts, key) cell emitted exactly once), so the coarse
    tier is just a second streaming window aggregation over those
    partials with the batch cascade's merge aggregates, hence
    bit-for-bit parity on every emitted bucket. Each stage carries its
    own checkpoint, so the whole 1m → 1h → 1d chain is independently
    resumable and exactly-once end-to-end (file source offsets +
    file-sink transaction log per stage).

    The finer tier's static schema is read from ``finer_dir`` (the dir
    exists once the 1m stage has started); a coarse bucket emits when
    the finer stream's event-time watermark passes its end.
    """
    if tier not in ("1h", "1d"):
        raise ValueError(f"cascade tier must be 1h or 1d, got {tier!r}")
    return stream(
        ROLLUP, spark, finer_dir, tier_dir, checkpoint_dir, tier, watermark, key_cols, finer=True
    )


def continuous_cms(
    spark: SparkSession, input_dir: str, tier_dir: str, checkpoint_dir: str, tier: str = "1m",
    key_col: str = "doc_id", watermark: str = "2 minutes",
):
    """Streaming count-min-sketch partials — the incremental-ingest
    mode of ``pipeline.cms.cms_partials``: per closed tier bucket,
    the (j, bucket) counter grid for an UNBOUNDED key domain (doc
    ids at 10^12-sequence scale). Output schema (ts, j, bucket, cnt)
    is consumed unchanged by ``cms_merge`` / ``cms_estimate``, so
    approximate heavy-hitter counts stay available while data streams
    in. State per open bucket is bounded by depth × width counters.
    """
    return stream(CMS, spark, input_dir, tier_dir, checkpoint_dir, tier, watermark, value_col=key_col)


def continuous_bloom(
    spark: SparkSession, input_dir: str, tier_dir: str, checkpoint_dir: str, tier: str = "1m",
    key_col: str = "doc_id", watermark: str = "2 minutes",
):
    """Streaming Bloom-filter partials — the incremental-ingest mode
    of ``pipeline.bloom.bloom_build``: per closed tier bucket, the
    (word, mask) table of ids seen in that bucket. ``bloom_merge``
    folds any set of buckets into one filter (bit_or), so "was this
    id ingested in range X" membership stays answerable while data
    streams in — the ingest-side half of eval-set decontamination.
    State per open bucket is bounded by the word-table size.
    """
    return stream(BLOOM, spark, input_dir, tier_dir, checkpoint_dir, tier, watermark, value_col=key_col)


def continuous_phll(
    spark: SparkSession, input_dir: str, tier_dir: str, checkpoint_dir: str, tier: str = "1m",
    key_col: str = "doc_id", watermark: str = "2 minutes",
):
    """Streaming portable-HLL register partials — the incremental-
    ingest mode of ``pipeline.hll.phll_partial``: per closed tier
    bucket, the sparse (idx, rho) register relation for the ids seen
    in that bucket. ``phll_cascade`` folds any set of buckets
    (register-wise MAX, idempotent — safe under replay), so "distinct
    ids ingested in range X" stays answerable while data streams in,
    at ≤256 rows of state per open bucket whatever the id cardinality.
    """
    return stream(PHLL, spark, input_dir, tier_dir, checkpoint_dir, tier, watermark, value_col=key_col)

"""Mergeable tier partials: one spec per family, four derivations.

Every tier row the engine stores is a COMPOSABLE PARTIAL: re-
aggregating partial rows with the family's merge aggregates yields
exactly the partial a coarser grid (or a late batch's union, or a
streamed bucket) would have produced from raw rows. A family is
therefore fully described by a :class:`Partial` spec:

- ``rows``: raw rows → pre-aggregation rows (an explode, a hash
  front end, a null filter — identity for most families);
- ``group``: the inner group expressions over those rows, named by
  ``inner`` in the partial row (``v``, ``j``/``bucket``, ``idx``,
  ``word``);
- ``merge``: each partial column and the aggregate that merges it
  (sum, min, max, bit_or, sketch union…);
- ``base``: the aggregates that build those columns from raw rows
  (default: ``merge`` itself, for families whose pre-aggregation rows
  already carry the partial columns);
- ``prefix``: the catalog table prefix (``f"{prefix}{tier}"``);
- ``finalize``: the read-side finalizer the router applies.

and the four generic functions below derive everything else:

- :func:`base` / :func:`cascade` — batch tiers bucketed by
  ``date_trunc`` (or no time bucket at all when ``tier`` is None,
  e.g. a global CMS grid or a Bloom filter);
- :func:`stream` — the Structured Streaming twin, bucketed by
  ``window.start`` under a watermark (exactly-once file sink, resume
  from the checkpoint, ``availableNow`` drain);
- :func:`route` — answer a frequency from the coarsest materialized
  tier that divides it, merge, finalize.

Row layout is fixed by these functions: batch partials group by
``(keys…, ts, inner…)``; streaming twins by ``(window, keys…,
inner…)`` and emit ``(ts, keys…, inner…, aggregates…)``.

Adding a family: write its kernel (hash front end, bucket function)
in its own module, add one ``Partial`` to :data:`REGISTRY`, and bind
its public names with one-line calls to the four functions.
``tests/test_partials.py`` then checks the cascade identity and the
streaming schema for it.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog
from ..timeaxis import with_time_axis


class Tier(NamedTuple):
    unit: str  # date_trunc unit of the batch bucket
    window: str | None  # streaming window duration (fixed tiers only)
    seconds: int | None  # bucket length (fixed tiers only)


TIER_TABLE = {
    "1m": Tier("minute", "1 minute", 60),
    "1h": Tier("hour", "1 hour", 3600),
    "1d": Tier("day", "1 day", 86400),
    # calendar tiers (variable length — partial merge still exact, but
    # they are rollup targets only, never the TTL partition unit).
    # NESTING CAVEAT: ISO weeks straddle month boundaries, so '1w'
    # partials must NEVER cascade into '1mo' — a week's counts would
    # land wholesale in the month of the week's Monday. Cascade both
    # from '1d' (minute/hour/day/month nest exactly; week nests only
    # over day and finer).
    "1w": Tier("week", None, None),
    "1mo": Tier("month", None, None),
}

#: the engine-native raw row every streaming twin reads
SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


@dataclass(frozen=True)
class Partial:
    """A mergeable tier-partial family (see the module docstring)."""

    prefix: str
    merge: dict[str, Callable[[str], Column]]
    inner: tuple[str, ...] = ()
    base: Callable[[dict], list[Column]] | None = None  # None: ``merge``
    group: Callable[[dict], list] | None = None  # None: group by ``inner``
    rows: Callable[[DataFrame, tuple, dict], DataFrame] = lambda df, carry, p: df
    finalize: Callable[..., DataFrame] | None = None
    defaults: dict = field(default_factory=dict)
    #: cascade(base(raw, fine), coarse) == base(raw, coarse) row for row
    exact: bool = True
    #: has a public streaming twin
    streamable: bool = True

    def merge_aggs(self) -> list[Column]:
        return [agg(name).alias(name) for name, agg in self.merge.items()]

    def raw(self, df: DataFrame, carry: tuple, params: dict) -> tuple[DataFrame, list, list]:
        """(pre-aggregation rows, inner group columns, base aggregates)
        for raw rows ``df``; ``carry`` names the key and event-time
        columns the rows must keep, ``params`` override ``defaults``."""
        p = {**self.defaults, **params}
        group = self.group(p) if self.group else list(self.inner)
        if self.base is None:
            aggs = self.merge_aggs()
        else:
            aggs = [c.alias(name) for c, name in zip(self.base(p), self.merge)]
        return self.rows(df, carry, p), group, aggs


def _bucket(tier: str | None, ts_col: str) -> list[Column]:
    if tier is None:
        return []
    return [F.date_trunc(TIER_TABLE[tier].unit, F.col(ts_col)).alias("ts")]


def _merge(
    spec: Partial, parts: DataFrame, key_cols: tuple[str, ...], bucket: list[Column]
) -> DataFrame:
    return parts.groupBy(*key_cols, *bucket, *spec.inner).agg(*spec.merge_aggs())


def base(
    spec: Partial, df: DataFrame, tier: str | None, key_cols: tuple[str, ...] = (),
    ts_col: str = "ts", **params,
) -> DataFrame:
    """Raw rows → partials at ``tier`` (no time bucket when None).
    ``params`` override the spec's ``defaults``."""
    carry = (*key_cols, ts_col) if tier else tuple(key_cols)
    rows, group, aggs = spec.raw(df, carry, params)
    return rows.groupBy(*key_cols, *_bucket(tier, ts_col), *group).agg(*aggs)


def cascade(
    spec: Partial, finer: DataFrame, tier: str | None, key_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Finer partials → coarser partials (or one grid when ``tier`` is
    None). ``date_trunc`` at the partials' own unit is idempotent, so
    this is also the late-batch merge."""
    return _merge(spec, finer, key_cols, _bucket(tier, "ts"))


def stream(
    spec: Partial, spark: SparkSession, source_dir: str, tier_dir: str, checkpoint_dir: str,
    tier: str, watermark: str, key_cols: tuple[str, ...] = (), finer: bool = False, **params,
):
    """Start the streaming twin of :func:`base` (raw sequence files in
    ``source_dir``) or, with ``finer``, of :func:`cascade` (a finer
    streamed tier's parquet output, whose schema is read from the
    directory); returns the StreamingQuery.

    Append mode + watermark emit a bucket once it closes, so every
    (ts, keys…, inner…) cell lands exactly once; state per open bucket
    is bounded by the family's partial size. Exactly-once via the
    file-sink transaction log, resume via the checkpoint.
    """
    if finer:
        schema = spark.read.parquet(source_dir).schema
        rows = spark.readStream.schema(schema).parquet(source_dir)
        group, aggs = list(spec.inner), spec.merge_aggs()
    else:
        raw = with_time_axis(spark.readStream.schema(SEQ_SCHEMA).parquet(source_dir))
        rows, group, aggs = spec.raw(raw, (*key_cols, "ts"), params)
    agg = (
        rows.withWatermark("ts", watermark)
        .groupBy(F.window("ts", TIER_TABLE[tier].window).alias("w"), *key_cols, *group)
        .agg(*aggs)
    )
    writer = agg.select(F.col("w.start").alias("ts"), *agg.columns[1:]).writeStream
    return writer.trigger(availableNow=True).start(
        tier_dir, format="parquet", outputMode="append", checkpointLocation=checkpoint_dir
    )


def route(
    spec: Partial, spark: SparkSession, catalog: ParquetSnapshotCatalog, freq: str,
    key_cols: tuple[str, ...] = (), finalize: bool = True, **finalize_args,
) -> tuple[DataFrame, str]:
    """Answer ``freq`` from the coarsest committed ``{prefix}<tier>``
    table that serves it: fixed frequencies need a tier whose seconds
    divide the target (bucketed by exact epoch-second flooring);
    calendar ones (M/Y) read the 1d tier via ``date_trunc``. Merges
    the partials on the target grid, then applies the family's
    finalizer. Returns (result, tier_used); raises LookupError when no
    committed tier serves the query (caller falls back to raw)."""
    from ..operators.core import parse_freq  # the operators package is heavy

    unit, secs = parse_freq(freq)
    calendar = unit in ("month", "year")
    fits = ["1d"] if calendar else [
        t for t, v in reversed(TIER_TABLE.items()) if v.seconds and secs % v.seconds == 0
    ]
    tier = next((t for t in fits if catalog.exists(f"{spec.prefix}{t}")), None)
    if tier is None:
        raise LookupError(f"no materialized {spec.prefix}<tier> table serves {freq!r}")
    if calendar:
        bucket = F.date_trunc(unit, F.col("ts"))
    else:
        bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / secs) * secs)
    table = catalog.read(spark, f"{spec.prefix}{tier}")
    merged = _merge(spec, table, key_cols, [bucket.alias("ts")])
    if finalize and spec.finalize:
        merged = spec.finalize(merged, key_cols, **finalize_args)
    return merged, tier


# The family modules bind their public names to the specs below and
# import this module back, so they are imported after the generic
# functions; specs reach them only through module attributes.
from . import bloom, cms, ddsketch, hll, rollup  # noqa: E402

ROLLUP = Partial(
    "tier_",
    merge={"n_tok_sum": F.sum, "n_tok_count": F.sum, "n_tok_min": F.min, "n_tok_max": F.max},
    base=lambda p: [F.sum("n_tok"), F.count("n_tok"), F.min("n_tok"), F.max("n_tok")],
    finalize=lambda df, keys: rollup.with_mean(df),
)
HIST = Partial(
    "hist_",
    merge={"cnt": F.sum},
    inner=("v",),
    base=lambda p: [F.count("*")],
    group=lambda p: [F.col(p["value_col"]).alias("v")],
    finalize=lambda df, keys, **kw: rollup.hist_quantiles(df, key_cols=keys, **kw),
    defaults={"value_col": "n_tok"},
)
#: DDSketch log buckets merge exactly like histogram values
DDSKETCH = replace(
    HIST,
    prefix="ddsketch_",
    rows=lambda df, carry, p: df.where(F.col(p["value_col"]).isNotNull()),
    group=lambda p: [ddsketch.dd_bucket(F.col(p["value_col"]), p["alpha"]).alias("v")],
    finalize=None,
    defaults={"value_col": "n_tok", "alpha": 0.01},
    streamable=False,
)
HLL = Partial(
    "hll_",
    merge={"distinct_hll": F.hll_union_agg},
    base=lambda p: [F.hll_sketch_agg(F.col(p["value_col"]), F.lit(p["lg_k"]))],
    defaults={"value_col": "user_id", "lg_k": 12},
    exact=False,  # DataSketches' union estimator differs from the direct sketch's
    streamable=False,
)
PHLL = Partial(
    "phll_",
    merge={"rho": F.max},
    inner=("idx",),
    rows=lambda df, carry, p: hll.phll_register_rows(df, p["value_col"], carry),
    finalize=lambda df, keys: hll.phll_estimate(df, key_cols=keys),
    defaults={"value_col": "user_id"},
)
CMS = Partial(
    "cms_",
    merge={"cnt": F.sum},
    inner=("j", "bucket"),
    rows=lambda df, carry, p: df.select(
        *carry,
        F.explode(cms.cms_pairs(F.col(p["value_col"]), p["depth"], p["width"])).alias("jb"),
        *([p["weight_col"]] if p["weight_col"] else []),
    ),
    group=lambda p: [F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")],
    base=lambda p: [
        F.sum(F.col(p["weight_col"]).cast("long")) if p["weight_col"] else F.count("*")
    ],
    defaults={
        "value_col": "doc_id", "depth": cms.CMS_DEPTH, "width": cms.CMS_WIDTH, "weight_col": None,
    },
)
BLOOM = Partial(
    "bloom_",
    merge={"mask": F.bit_or},
    inner=("word",),
    rows=lambda df, carry, p: bloom.exploded_positions(
        df, p["value_col"], p["k"], p["words"], carry
    ),
    defaults={"value_col": "doc_id", "k": bloom.BLOOM_K, "words": bloom.BLOOM_WORDS},
)

#: every registered family, by name
REGISTRY = {
    "rollup": ROLLUP, "hist": HIST, "ddsketch": DDSKETCH, "hll": HLL,
    "phll": PHLL, "cms": CMS, "bloom": BLOOM,
}

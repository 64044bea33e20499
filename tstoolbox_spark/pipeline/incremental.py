"""Incremental continuous-aggregate refresh for late-arriving data.

north_rule: "window-function-based continuous aggregates ...
materialized into tiered Iceberg tables". A materialized tier is only
useful at 10^12-sequence scale if late/corrected rows can be folded in
WITHOUT recomputing the tier from raw history (TimescaleDB calls this
a continuous-aggregate refresh; Iceberg expresses the write side as
``overwritePartitions``).

The engine's tier rows are COMPOSABLE PARTIALS — sum/count/min/max
(pipeline/rollup.py) — so merging a late batch never rescans raw:

    refreshed_bucket = merge(existing_partial, partial(late_rows))

i.e. union the late batch's own partials with the existing tier rows
and re-aggregate at the same granularity. Cost is
O(|late| + |touched buckets|). The catalog-level refresh is
``partials.fold``, the one tier write every family shares: it reads
only the touched ``day=`` partitions of the finest tier, cascades the
coarser tiers from the merged days in memory, and publishes every tier
plus its lineage rows as ONE commit group that replaces only those
days (untouched days are carried by reference, metadata-only). The
group records the batch's digest, so refreshing with the same batch
twice counts it once, and a crash before the publish leaves every
tier as it was. The 100 TB shape: an hour of late data touches ~1 day
directory per tier, not a tier scan. The functions below bind the
rollup family's names to it.

Reference semantics anchor: the refreshed buckets must equal a full
recompute of tstoolbox ``aggregate`` over raw ∪ late
(/root/reference/tstoolbox/functions/aggregate.py:237-239, pandas
resample sum/count/min/max) — asserted bit-for-bit in
tests/test_incremental.py and by the ``incremental_rollup_refresh``
driver query's full-recompute SQL oracle.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..tables import ParquetSnapshotCatalog
from . import partials, rollup

#: distinct ``day`` partitions a batch of partials lands in
touched_days = partials.touched_days


def merge_partials(
    parts: DataFrame, tier: str, key_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Re-aggregate partial rows at their OWN granularity — the merge
    step of an incremental refresh. ``date_trunc`` at the same unit is
    idempotent, so this is exactly ``rollup_cascade`` tier→tier."""
    return partials.cascade(partials.ROLLUP, parts, tier, key_cols)


def incremental_tier_refresh(
    existing: DataFrame,
    late_raw: DataFrame,
    tier: str = "1m",
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Fold a late batch of RAW sequences into an existing in-memory
    tier of partials. Never touches raw history: the only aggregation
    over raw is over ``late_raw`` itself."""
    late_parts = rollup.rollup_base(late_raw, tier, key_cols).select(*existing.columns)
    return merge_partials(existing.unionByName(late_parts), tier, key_cols)


def refresh_tier_snapshot(
    catalog: ParquetSnapshotCatalog,
    spark: SparkSession,
    table: str,
    late_raw: DataFrame,
    tier: str,
    key_cols: tuple[str, ...] = ("source",),
) -> str:
    """Fold a late batch into ONE rollup tier ``table`` (whose name
    ends in ``tier``); returns its current snapshot id."""
    spec = replace(partials.ROLLUP, prefix=table.removesuffix(tier))
    return partials.fold(catalog, spec, late_raw, key_cols, (tier,))[tier]


def refresh_all_tiers(
    catalog: ParquetSnapshotCatalog,
    spark: SparkSession,
    late_raw: DataFrame,
    key_cols: tuple[str, ...] = ("source",),
) -> dict[str, str]:
    """Fold a late batch into every rollup tier (``tier_1m/1h/1d``) as
    one commit group; returns {tier: current snapshot id}."""
    return partials.fold(catalog, partials.ROLLUP, late_raw, key_cols, rollup.TIER_ORDER)

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
O(|late| + |touched buckets|). With day-partitioned tier storage only
the touched ``day=`` partitions are read (Catalyst partition pruning
on the `.where(day IN ...)` scan) and rewritten
(``catalog.overwrite_partitions`` — untouched days are carried by
reference, metadata-only). The 100 TB shape: an hour of late data
touches ~1 day directory per tier, not a tier scan.

Reference semantics anchor: the refreshed buckets must equal a full
recompute of tstoolbox ``aggregate`` over raw ∪ late
(/root/reference/tstoolbox/functions/aggregate.py:237-239, pandas
resample sum/count/min/max) — asserted bit-for-bit in
tests/test_incremental.py and by the ``incremental_rollup_refresh``
driver query's full-recompute SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog
from . import partials, rollup


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
    """Fold a late batch of RAW sequences into an existing tier of
    partials. Never touches raw history: the only aggregation over raw
    is over ``late_raw`` itself."""
    late_parts = rollup.rollup_base(late_raw, tier, key_cols)
    return merge_partials(
        existing.unionByName(late_parts.select(*existing.columns)),
        tier,
        key_cols,
    )


def touched_days(late_parts: DataFrame) -> list[str]:
    """Distinct ``day`` partition values a late batch lands in —
    metadata-scale collect (an hour of late data is 1-2 days)."""
    return sorted(
        r["day"]
        for r in rollup.day_partition(late_parts)
        .select("day")
        .distinct()
        .collect()
    )


def refresh_tier_snapshot(
    catalog: ParquetSnapshotCatalog,
    spark: SparkSession,
    table: str,
    late_raw: DataFrame,
    tier: str,
    key_cols: tuple[str, ...] = ("source",),
) -> str:
    """Catalog-level refresh: read ONLY the day partitions the late
    batch touches, merge partials, overwrite ONLY those partitions
    (untouched days carried by reference — Iceberg
    ``overwritePartitions`` semantics). Returns the new snapshot id.
    """
    late_parts = rollup.rollup_base(late_raw, tier, key_cols)
    days = touched_days(late_parts)
    if not days:
        cur = catalog.current_snapshot(table)
        return cur["id"] if cur else ""
    # partition-pruned scan of the touched days only
    existing = catalog.read(spark, table).where(F.col("day").isin(days))
    merged = merge_partials(
        existing.drop("day").unionByName(
            late_parts.select(*[c for c in existing.columns if c != "day"])
        ),
        tier,
        key_cols,
    )
    out = rollup.day_layout(merged, key_cols)
    return catalog.overwrite_partitions(spark, out, table, "day", days)


def refresh_all_tiers(
    catalog: ParquetSnapshotCatalog,
    spark: SparkSession,
    late_raw: DataFrame,
    key_cols: tuple[str, ...] = ("source",),
    tables: dict[str, str] | None = None,
) -> dict[str, str]:
    """End-to-end incremental refresh of the WHOLE tier cascade for a
    late batch: fold into 1m, then rebuild ONLY the touched day
    partitions of 1h and 1d from the refreshed finer tier.

    Day boundaries align with every tier, so a touched day's coarser
    rows are fully derivable from that day's finer partials — the
    coarser refresh is a partition-pruned ``rollup_cascade`` over the
    touched days followed by ``overwrite_partitions``; untouched days
    of every tier are carried by reference. Total cost is
    O(|late| + touched-day partials x 3), independent of history
    length. Returns {tier: new snapshot id}.
    """
    tables = tables or {t: f"{partials.ROLLUP.prefix}{t}" for t in rollup.TIER_ORDER}
    late_parts = rollup.rollup_base(late_raw, "1m", key_cols)
    days = touched_days(late_parts)
    out: dict[str, str] = {}
    if not days:
        for tier, tbl in tables.items():
            cur = catalog.current_snapshot(tbl)
            out[tier] = cur["id"] if cur else ""
        return out
    out["1m"] = refresh_tier_snapshot(
        catalog, spark, tables["1m"], late_raw, "1m", key_cols
    )
    for finer, coarser in (("1m", "1h"), ("1h", "1d")):
        finer_df = (
            catalog.read(spark, tables[finer])
            .where(F.col("day").isin(days))
            .drop("day")
        )
        merged = rollup.rollup_cascade(finer_df, coarser, key_cols)
        redone = rollup.day_layout(merged, key_cols)
        out[coarser] = catalog.overwrite_partitions(
            spark, redone, tables[coarser], "day", days
        )
    return out

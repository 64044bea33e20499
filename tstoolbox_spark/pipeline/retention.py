"""TTL-driven retention drops per tier.

north_rule: tiered tables with TTL-driven retention — finer tiers keep
less history (classic downsample-and-expire policy: minutes for days,
hours for weeks, days for years). Tier tables are partitioned by
``day``, so a TTL drop removes whole partitions (metadata-only in
Iceberg; snapshot-swap in the parquet fallback — see tables.py).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from ..tables import ParquetSnapshotCatalog
from . import partials

#: tier → days of history kept (defaults; jobs override)
DEFAULT_TTL_DAYS = {"1m": 7, "1h": 90, "1d": 3650}


def apply_retention(
    catalog: ParquetSnapshotCatalog,
    spark: SparkSession,
    now: dt.datetime,
    ttl_days: dict[str, int] | None = None,
) -> dict[str, str]:
    """Drop day partitions older than each tier's TTL. Returns the new
    snapshot id per tier table touched."""
    ttl = {**DEFAULT_TTL_DAYS, **(ttl_days or {})}
    out: dict[str, str] = {}
    for tier, days in ttl.items():
        table = f"{partials.ROLLUP.prefix}{tier}"
        if not catalog.exists(table):
            continue
        cutoff = (now - dt.timedelta(days=days)).strftime("%Y-%m-%d")
        out[tier] = catalog.drop_partitions_before(spark, table, "day", cutoff)
    return out

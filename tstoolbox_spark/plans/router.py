"""Tier routing: answer downsample queries from the coarsest
sufficient materialization.

SURVEY.md §4.2.6: the one Catalyst-rule candidate (rewrite
``groupBy(date_trunc('hour'))`` over raw data to a scan of the 1h
table) is better done at the API layer — this module is that layer.
A query for frequency F is served from the coarsest tier whose
granularity divides F, merging partials (sum/count/min/max compose;
mean derived last), so e.g. a 6-hour rollup scans hours instead of
raw sequences: a 3-4 order-of-magnitude scan reduction at the
10^12-sequence design point.

The partial/final split is what makes this lossless: tier tables
store composable partials, never finalized means
(pipeline/rollup.py), so re-aggregation is exact at any coarser grid.
The tier pick and the merge are ``pipeline.partials.route``; each
function here binds one family spec to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.partials import HIST, PHLL, ROLLUP, TIER_TABLE, route
from ..tables import ParquetSnapshotCatalog

#: fixed tiers' bucket seconds (a view of ``pipeline.partials.TIER_TABLE``)
TIER_SECONDS = {name: t.seconds for name, t in TIER_TABLE.items() if t.seconds}


def route_tier_query(
    spark: SparkSession, catalog: ParquetSnapshotCatalog, freq: str,
    key_cols: tuple[str, ...] = ("source",), with_mean: bool = True,
) -> tuple[DataFrame, str]:
    """Downsample to ``freq`` from the coarsest sufficient tier.

    Returns (result, tier_used). Calendar frequencies (M/Y) route to
    the 1d tier via date_trunc; fixed frequencies require a tier whose
    seconds divide the target. Raises LookupError when no materialized
    tier can serve the query (caller falls back to raw rollup).
    """
    return route(ROLLUP, spark, catalog, freq, key_cols, finalize=with_mean)


def route_quantile_query(
    spark: SparkSession, catalog: ParquetSnapshotCatalog, freq: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99), key_cols: tuple[str, ...] = ("source",),
) -> tuple[DataFrame, str]:
    """EXACT quantiles at ``freq`` from the coarsest sufficient
    histogram tier (``hist_<tier>`` tables: keys, ts, v, cnt).

    Quantiles are holistic — they cannot be finalized then re-merged —
    but histogram partials compose by adding counts, so any coarser
    grid re-aggregates losslessly and the scan is bounded by
    |domain| rows per bucket instead of raw rows: the same 3-4
    order-of-magnitude reduction route_tier_query buys for means.
    """
    return route(HIST, spark, catalog, freq, key_cols, qs=qs)


def route_distinct_query(
    spark: SparkSession, catalog: ParquetSnapshotCatalog, freq: str,
    key_cols: tuple[str, ...] = ("source",),
) -> tuple[DataFrame, str]:
    """Approximate distinct counts at ``freq`` from the coarsest
    sufficient portable-HLL register tier (``phll_<tier>`` tables:
    keys, ts, idx, rho).

    Distinct is holistic (a day's distinct is NOT the sum of its
    hours'), but HLL registers compose by register-wise MAX, so any
    coarser grid re-unions losslessly and a bucket costs ≤ m=256
    register rows whatever the id cardinality — the sketch-tier
    answer to COUNT(DISTINCT) at the 10^12-sequence design point.
    """
    return route(PHLL, spark, catalog, freq, key_cols)

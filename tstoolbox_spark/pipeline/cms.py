"""Count-min sketch tiers: heavy-hitter counts for UNBOUNDED key domains.

Companion to the exact histogram partials (`rollup.hist_base`, bounded
int domains) and HLL distinct tiers: a count-min sketch (Cormode &
Muthukrishnan 2005) gives (ε, δ)-approximate frequencies for key
domains too large to materialize — user ids, URLs, token ids at
10^12-sequence scale — from partials that compose losslessly (the
counter grid is a plain sum, so map-side combine, tier cascade and
late-batch merge all work exactly like the other tier partials).

Hashing is the repo's portable md5 scheme (`textops.dedup.md5int`),
so the sketch is deterministic, partitioning-independent, and
reproducible bit-for-bit in any engine (the DuckDB oracle rebuilds
the same grid). Estimates are the classic min-over-rows upper bound:
``est(k) = min_j grid[j][h_j(k)] >= true(k)``, with overestimate
probability ≤ δ = (1/2)^depth at width = 2e/ε.

Sketch size is depth × width counters per tier bucket — metadata
scale (default 4 × 2048 BIGINTs ≈ 64 KiB) regardless of input rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ``partials`` names the grid argument below, so the module is aliased
from . import partials as partial_specs

#: default grid — ε ≈ 2e/2048 ≈ 0.0027 of the L1 mass, δ = 1/16
CMS_DEPTH = 4
CMS_WIDTH = 2048


def cms_bucket(key: Column, j: int, width: int = CMS_WIDTH) -> Column:
    """Row j's bucket for a key: md5(key || '|cms<j>') mod width."""
    # imported here: the textops package is heavy, and every pipeline
    # import (Python workers included) loads this module via partials
    from ..textops.dedup import md5int

    return md5int(F.concat(key.cast("string"), F.lit(f"|cms{j}"))) % F.lit(
        width
    )


def cms_pairs(key: Column, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> Column:
    """The key's ``depth`` grid cells as an array of (j, bucket)
    structs — exploded by the partial build and by the probe side."""
    return F.array(
        *[
            F.struct(F.lit(j).alias("j"), cms_bucket(key, j, width).alias("bucket"))
            for j in range(depth)
        ]
    )


def cms_partials(
    df: DataFrame, key_col: str, tier: str | None = "1d", ts_col: str = "ts",
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH, weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch grid (``partials.CMS``): one row per (tier
    bucket, j, bucket) with its counter. ``weight_col`` switches from
    row counts to weighted counts (e.g. n_tok mass instead of sequence
    count).

    Scale shape: a depth-way explode (rows × depth, all narrow ints)
    into one hash aggregate whose output is bounded by
    depth × width × tier-buckets rows — partial aggregation collapses
    the explosion map-side, so the shuffle moves at most the grid.
    """
    return partial_specs.base(
        partial_specs.CMS, df, tier, (), ts_col,
        value_col=key_col, depth=depth, width=width, weight_col=weight_col,
    )


def cms_merge(partials: DataFrame, tier: str | None = None) -> DataFrame:
    """Fold finer partials into a coarser tier (or a single global
    grid when ``tier`` is None) — a plain re-sum, exact."""
    return partial_specs.cascade(partial_specs.CMS, partials, tier)


def cms_estimate(
    partials: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-estimate counts for a (small) probe-key frame against the
    grid: ``est = min_j counter[j][h_j(key)]`` with absent counters
    read as 0. ``group_cols`` names partial columns the probes also
    carry (e.g. ``ts`` for tiered grids).

    The probe side explodes to probes × depth rows; the GRID is the
    broadcast build side of the left join — it is bounded by
    depth × width × tier-buckets counters regardless of input size
    (that bound is the whole point of a sketch), while the probe side
    streams, so neither big-table shuffle nor driver collection
    appears anywhere.
    """
    k = F.col(key_col)
    probe_rows = probes.select(
        *group_cols, k.alias(key_col), F.explode(cms_pairs(k, depth, width)).alias("jb")
    ).select(
        *group_cols, key_col, F.col("jb.j").alias("j"),
        F.col("jb.bucket").alias("bucket"),
    )
    joined = probe_rows.join(
        F.broadcast(partials), on=[*group_cols, "j", "bucket"], how="left"
    )
    return joined.groupBy(*group_cols, key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )

"""DDSketch quantile partials: relative-error quantiles for UNBOUNDED
double domains, composable across tiers.

``rollup.hist_base`` gives EXACT tier quantiles when the value domain
is a small integer set; for continuous doubles the same shape works
with DDSketch's log buckets (Masson, Rim & Lee, "DDSketch: a fast and
fully-mergeable quantile sketch with relative-error guarantees",
VLDB 2019 — public algorithm): bucket ``i = ceil(ln(x)/ln(gamma))``
with ``gamma = (1+alpha)/(1-alpha)`` guarantees every estimate is
within relative error ``alpha`` of the true quantile, and bucket
counts merge by addition — exactly the property tier materialization
needs. Everything here is pure column expressions over the existing
histogram machinery (one groupBy per tier, no UDFs).

Encoding: buckets must totally order like the values they hold, and
zero / negatives need their own space, so the stored key is

    x > 0  →  +(OFFSET + i)
    x = 0  →  0
    x < 0  →  -(OFFSET + i)   with i from |x|

which is monotone in x (more-negative values get more-negative keys).
OFFSET = 10**6 clears the double exponent range (|i| < ~4e4 even at
alpha = 1e-3).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import partials, rollup

OFFSET = 1_000_000


def gamma_for(alpha: float) -> float:
    return (1.0 + alpha) / (1.0 - alpha)


def dd_bucket(col: Column, alpha: float = 0.01) -> Column:
    """Signed, order-preserving DDSketch bucket key (long)."""
    lg = math.log(gamma_for(alpha))
    i = F.ceil(F.log(F.abs(col)) / F.lit(lg)).cast("long")
    return (
        F.when(col > 0, i + OFFSET)
        .when(col < 0, -(i + OFFSET))
        .when(col == 0, F.lit(0).cast("long"))
        .otherwise(F.lit(None).cast("long"))  # NULL in, NULL out
    )


def dd_value(bucket: Column, alpha: float = 0.01) -> Column:
    """Bucket key → midpoint estimate 2·γ^i/(γ+1) (the paper's
    minimal-relative-error representative), sign-mirrored."""
    g = gamma_for(alpha)
    i_pos = bucket - OFFSET
    i_neg = -bucket - OFFSET
    est_pos = F.lit(2.0) * F.pow(F.lit(g), i_pos.cast("double")) / F.lit(g + 1.0)
    est_neg = -(
        F.lit(2.0) * F.pow(F.lit(g), i_neg.cast("double")) / F.lit(g + 1.0)
    )
    return (
        F.when(bucket > 0, est_pos)
        .when(bucket < 0, est_neg)
        .otherwise(F.lit(0.0))
    )


def ddsketch_base(
    df: DataFrame, tier: str = "1d", key_cols: tuple[str, ...] = ("source",),
    value_col: str = "n_tok", ts_col: str = "ts", alpha: float = 0.01,
) -> DataFrame:
    """Per-tier-bucket DDSketch partials (``partials.DDSKETCH``): rows
    (keys, ts, v=bucket, cnt), nulls dropped. Same single-shuffle shape
    as ``rollup.hist_base``; bucket count per tier cell is bounded by
    ~2·ln(max/min)/ln(γ) (a few hundred for any realistic double
    range), so partials stay tiny."""
    return partials.base(
        partials.DDSKETCH, df, tier, key_cols, ts_col, value_col=value_col, alpha=alpha
    )


def ddsketch_cascade(
    finer: DataFrame, tier: str, key_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Sketch partials merge exactly like histograms: counts add."""
    return partials.cascade(partials.DDSKETCH, finer, tier, key_cols)


def ddsketch_quantiles(
    sketch: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    key_cols: tuple[str, ...] = ("source",),
    alpha: float = 0.01,
) -> DataFrame:
    """alpha-relative-error quantiles per (key, tier bucket), read from
    sketch partials only (percentile_disc rank over ordered bucket
    keys, then the bucket's midpoint representative)."""
    q = rollup.hist_quantiles(sketch, qs, key_cols)
    keep = [*key_cols, "ts"]
    out_cols = [F.col(c) for c in keep]
    for c in q.columns:
        if c not in keep:
            out_cols.append(dd_value(F.col(c), alpha).alias(c))
    return q.select(*out_cols)


__all__ = [
    "dd_bucket",
    "dd_value",
    "ddsketch_base",
    "ddsketch_cascade",
    "ddsketch_quantiles",
    "gamma_for",
]

"""Tiered continuous aggregates: 1m → 1h → 1d.

north_rule: "window-function-based continuous aggregates (sum/mean/
min/max/count of n_tok per 1m/1h/1d tiers) materialized into tiered
tables with TTL-driven retention drops."

Partial/final split (the scale-critical design): only the 1m tier
aggregates raw sequences; every coarser tier re-aggregates the finer
tier's *partials* —

    sum_1h  = sum(sum_1m)      count_1h = sum(count_1m)
    min_1h  = min(min_1m)      max_1h   = max(max_1m)
    mean    = sum / count      (derived at read, never materialized)

so the 1h/1d jobs scan minutes/hours, not the 100 TB raw table —
the classic partial-aggregation reuse Catalyst performs inside one
query, applied across materializations. Each tier groupBy shuffles on
(source, tier_ts); AQE coalesces the post-shuffle partitions.

Bit-for-bit parity with tstoolbox aggregate (functions/aggregate.py:
237-239 → pandas resample): sum/count/min/max of int64 are exact, and
mean = sum/count in float64 is exactly pandas' mean for int inputs.

Tier rows are labeled by bucket START (date_trunc), matching pandas
resample's left-closed/left-labeled default for T/H/D.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import partials

#: tier name → date_trunc unit (a view of ``partials.TIER_TABLE``)
TIERS = {name: t.unit for name, t in partials.TIER_TABLE.items()}
#: the fixed-length tiers, finest first
TIER_ORDER = [name for name, t in partials.TIER_TABLE.items() if t.seconds]

PARTIAL_COLS = ["n_tok_sum", "n_tok_count", "n_tok_min", "n_tok_max"]


def rollup_base(df: DataFrame, tier: str = "1m", key_cols: tuple[str, ...] = ("source",)) -> DataFrame:
    """Raw sequences → finest tier partials (``partials.ROLLUP``)."""
    return partials.base(partials.ROLLUP, df, tier, key_cols)


def rollup_cascade(finer: DataFrame, tier: str, key_cols: tuple[str, ...] = ("source",)) -> DataFrame:
    """Finer-tier partials → coarser tier partials (partial merge)."""
    return partials.cascade(partials.ROLLUP, finer, tier, key_cols)


def hist_base(
    df: DataFrame, tier: str = "1h", key_cols: tuple[str, ...] = ("source",),
    value_col: str = "n_tok", ts_col: str = "ts",
) -> DataFrame:
    """Value-count HISTOGRAM partials (``partials.HIST``): one row per
    (key, bucket, distinct value). Quantiles are holistic — they cannot
    be materialized as sum/count partials — but over a BOUNDED integer
    domain (token counts are 1..512, TPC-H quantities 1..50) the full
    histogram is a tiny, losslessly composable partial: rows per tier
    bucket <= |domain|, merging = adding counts. This buys EXACT
    percentiles at every tier without rescanning raw — the
    TimescaleDB ``percentile_agg`` continuous-aggregate shape, exact
    instead of sketched. Same groupBy shuffle as ``rollup_base``.
    """
    return partials.base(partials.HIST, df, tier, key_cols, ts_col, value_col=value_col)


def hist_cascade(finer: DataFrame, tier: str, key_cols: tuple[str, ...] = ("source",)) -> DataFrame:
    """Finer-tier histogram partials → coarser tier (counts add)."""
    return partials.cascade(partials.HIST, finer, tier, key_cols)


def hist_quantiles(
    hist: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Exact discrete quantiles per (key, bucket) from histogram
    partials — percentile_disc semantics (smallest value whose
    cumulative count reaches ceil(q*n), matching DuckDB quantile_disc
    / Postgres percentile_disc).

    One window cumsum ordered by value WITHIN each bucket (partition
    sizes <= |domain|, so the sort is trivial) and one aggregate —
    reading quantiles never touches raw rows.
    """
    keys = [*key_cols, "ts"]
    bucket = Window.partitionBy(*keys)
    byval = bucket.orderBy("v")
    cum = F.sum("cnt").over(byval)
    total = F.sum("cnt").over(bucket)
    h = hist.select(*keys, "v", cum.alias("__cum"), total.alias("__tot"))
    aggs = []
    for q in qs:
        thr = F.greatest(F.ceil(F.lit(q) * F.col("__tot")), F.lit(1))
        aggs.append(
            F.min(F.when(F.col("__cum") >= thr, F.col("v"))).alias(
                f"p{str(q).replace('0.', '').ljust(2, '0')}"
            )
        )
    return h.groupBy(*keys).agg(*aggs)


def hist_topk(
    hist: DataFrame, k: int = 3, key_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Top-k most frequent values per (key, tier bucket) read from
    histogram partials — exact heavy hitters without rescanning raw
    (the sketch-free answer Misra-Gries approximates on unbounded
    domains). Tie → smaller value first, so output is deterministic.
    One window over partitions bounded by |domain| rows."""
    keys = [*key_cols, "ts"]
    w = Window.partitionBy(*keys).orderBy(F.col("cnt").desc(), F.col("v"))
    return (
        hist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*keys, "rank", "v", "cnt")
    )


def with_mean(tier_df: DataFrame) -> DataFrame:
    """Read-side derived mean (never materialized — keeps partials
    losslessly composable)."""
    return tier_df.withColumn(
        "n_tok_mean", F.col("n_tok_sum") / F.col("n_tok_count")
    )


def day_partition(tier_df: DataFrame) -> DataFrame:
    """Add the day partition column tiers are stored under (TTL drops
    whole day partitions — metadata-only)."""
    return tier_df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def day_layout(
    tier_df: DataFrame, key_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """The one storage layout of a tier, for the pipeline's write and
    the incremental refresh alike: :func:`day_partition`, then one
    shuffle partition per day before partitionBy('day') — otherwise
    every post-agg partition writes a sliver into every day directory
    (days x shuffle.partitions small files: slow commits, slow scans,
    and a metadata-only TTL drop would still list thousands of files).
    A day of 1m partials is sources x 1440 rows, so one task per day is
    the right grain at any SF. Rows are sorted by (key_cols, ts) within
    the day, so parquet row-group min/max stats are disjoint per
    (source, ts range) and point/range reads skip whole row groups. The
    sort leads with ``day``: a partitioned write sorts each task by its
    partition column unless the input already is, and that sort would
    discard the (key_cols, ts) order."""
    return (
        day_partition(tier_df)
        .repartition(F.col("day"))
        .sortWithinPartitions("day", *key_cols, "ts")
    )


def hist_trimmed_mean(
    hist: DataFrame,
    trim: float = 0.1,
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Exact α-trimmed mean per (key, tier bucket) from histogram
    partials — the robust-location companion to :func:`hist_quantiles`
    (drop the floor(α·n) smallest and floor(α·n) largest ranks, mean
    the rest), computed WITHOUT rescanning raw rows.

    Every value v with cumulative range (cum−cnt, cum] contributes
    ``max(0, min(cum, hi) − max(cum−cnt, lo))`` kept occurrences —
    pure integer arithmetic until the final division, so the result is
    engine-exact. Same trivially-small window as hist_quantiles
    (partitions ≤ |domain| rows). Buckets where trimming removes
    everything (hi ≤ lo) return null.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    keys = [*key_cols, "ts"]
    bucket = Window.partitionBy(*keys)
    byval = bucket.orderBy("v")
    cum = F.sum("cnt").over(byval)
    tot = F.sum("cnt").over(bucket)
    h = hist.select(
        *keys, "v", "cnt", cum.alias("__cum"), tot.alias("__tot")
    )
    lo = F.floor(F.lit(float(trim)) * F.col("__tot")).cast("long")
    hi = F.col("__tot") - lo
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), hi)
        - F.greatest(F.col("__cum") - F.col("cnt"), lo),
    )
    agg = h.groupBy(*keys).agg(
        F.sum(F.col("v").cast("long") * kept).alias("__wsum"),
        F.sum(kept).alias("n_kept"),
    )
    return agg.select(
        *keys,
        F.when(
            F.col("n_kept") > 0,
            F.round(
                F.col("__wsum").cast("double") / F.col("n_kept"), 6
            ),
        ).alias("trimmed_mean"),
        "n_kept",
    )


def hist_winsorized_mean(
    hist: DataFrame,
    alpha: float = 0.1,
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Exact α-winsorized mean per (key, tier bucket) from histogram
    partials — the CLAMPING sibling of :func:`hist_trimmed_mean`: the
    k = floor(α·n) smallest occurrences are replaced by the (k+1)-th
    order statistic and the k largest by the (n−k)-th, then everything
    is averaged (Tukey/Dixon winsorization).

    From the histogram this is the trimmed middle sum plus
    ``k · (v_lo + v_hi)`` where ``v_lo``/``v_hi`` are percentile_disc
    reads at ranks k+1 and n−k — integer arithmetic end to end, exact
    at every tier, same |domain|-bounded window as hist_quantiles.
    """
    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"alpha must be in [0, 0.5), got {alpha}")
    keys = [*key_cols, "ts"]
    bucket = Window.partitionBy(*keys)
    byval = bucket.orderBy("v")
    cum = F.sum("cnt").over(byval)
    tot = F.sum("cnt").over(bucket)
    h = hist.select(
        *keys, "v", "cnt", cum.alias("__cum"), tot.alias("__tot")
    )
    k = F.floor(F.lit(float(alpha)) * F.col("__tot")).cast("long")
    hi = F.col("__tot") - k
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), hi)
        - F.greatest(F.col("__cum") - F.col("cnt"), k),
    )
    agg = h.groupBy(*keys).agg(
        F.sum(F.col("v").cast("long") * kept).alias("__wsum"),
        F.min(F.when(F.col("__cum") >= k + 1, F.col("v"))).alias("__vlo"),
        F.min(F.when(F.col("__cum") >= hi, F.col("v"))).alias("__vhi"),
        F.max(k).alias("__k"),
        F.max(F.col("__tot")).alias("n"),
    )
    wsum = (
        F.col("__wsum")
        + F.col("__k") * (
            F.col("__vlo").cast("long") + F.col("__vhi").cast("long")
        )
    )
    return agg.select(
        *keys,
        F.round(wsum.cast("double") / F.col("n"), 6).alias(
            "winsorized_mean"
        ),
        F.col("n").cast("long").alias("n"),
    )


def hist_cdf(
    hist: DataFrame,
    thresholds: tuple[int, ...],
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Exact CDF reads per (key, tier bucket) from histogram partials:
    for each threshold t, the fraction of occurrences with value ≤ t
    ("share of sequences at or under 512 tokens per day" style
    questions) — plain conditional integer sums over the partials, no
    window at all, never rescans raw.
    """
    keys = [*key_cols, "ts"]
    aggs = [F.sum("cnt").alias("n")]
    for t in thresholds:
        aggs.append(
            (
                F.sum(F.when(F.col("v") <= t, F.col("cnt")).otherwise(0))
                .cast("double")
                / F.sum("cnt")
            ).alias(f"le_{t}")
        )
    return hist.groupBy(*keys).agg(*aggs)


def iqr_fences(
    hist: DataFrame,
    k: float = 1.5,
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Tukey-fence outlier counts per (key, tier bucket) read from
    histogram partials: q1/q3 are exact percentile_disc reads, fences
    are q1 − k·IQR / q3 + k·IQR, and the outlier count is one more
    conditional sum over the same partials — the boxplot screen at
    every tier without rescanning raw. Same |domain|-bounded window
    as hist_quantiles.
    """
    keys = [*key_cols, "ts"]
    bucket = Window.partitionBy(*keys)
    byval = bucket.orderBy("v")
    cum = F.sum("cnt").over(byval)
    tot = F.sum("cnt").over(bucket)
    h = hist.select(*keys, "v", "cnt", cum.alias("__cum"), tot.alias("__tot"))
    q1thr = F.greatest(F.ceil(F.lit(0.25) * F.col("__tot")), F.lit(1))
    q3thr = F.greatest(F.ceil(F.lit(0.75) * F.col("__tot")), F.lit(1))
    g = h.groupBy(*keys).agg(
        F.min(F.when(F.col("__cum") >= q1thr, F.col("v"))).alias("q1"),
        F.min(F.when(F.col("__cum") >= q3thr, F.col("v"))).alias("q3"),
        F.sum("cnt").alias("n"),
    )
    lo = F.col("q1") - F.lit(float(k)) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(float(k)) * (F.col("q3") - F.col("q1"))
    fenced = g.select(
        *keys, "q1", "q3", lo.alias("lo_fence"), hi.alias("hi_fence"),
        F.col("n").cast("long").alias("n"),
    )
    out = hist.join(fenced, keys).groupBy(*keys).agg(
        F.sum(
            F.when(
                (F.col("v") < F.col("lo_fence"))
                | (F.col("v") > F.col("hi_fence")),
                F.col("cnt"),
            ).otherwise(F.lit(0))
        ).alias("n_outliers"),
        F.first("q1").alias("q1"),
        F.first("q3").alias("q3"),
        F.first("lo_fence").alias("lo_fence"),
        F.first("hi_fence").alias("hi_fence"),
        F.first("n").alias("n"),
    )
    return out.select(
        *keys, "q1", "q3", "lo_fence", "hi_fence",
        F.col("n_outliers").cast("long").alias("n_outliers"), "n",
    )


def hist_rebin(
    hist: DataFrame,
    width: int,
    key_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Coarsen histogram partials to ``width``-wide value bins
    (v → floor(v / width)·width): counts add exactly, so tiers can
    store a coarse histogram where full value resolution is no longer
    worth the rows (e.g. 1-token bins daily, 16-token bins monthly).
    Reads (hist_quantiles/hist_cdf/...) on the rebinned frame answer
    at bin resolution — a documented, bounded quantization, never a
    sketch. One map-combinable groupBy.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    keys = [*key_cols, "ts"]
    return hist.groupBy(
        *keys,
        (F.floor(F.col("v") / F.lit(width)) * F.lit(width))
        .cast("int")
        .alias("v"),
    ).agg(F.sum("cnt").alias("cnt"))

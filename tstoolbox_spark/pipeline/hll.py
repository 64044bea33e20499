"""Mergeable distinct-count tier partials via HyperLogLog sketches.

The histogram tiers (``rollup.hist_*``) give EXACT distincts, but a
distinct count is holistic: distinct users per day is NOT the sum of
per-hour distincts, so the exact path must keep one row per (bucket,
value) — fine for bounded domains, unbounded cost for high-cardinality
ones (user ids at 100 TB). The standard scale answer (public: Flajolet
et al. 2007 HyperLogLog; Apache DataSketches, which backs Spark's
``hll_sketch_agg`` family) is a FIXED-SIZE mergeable register array:

    hll_1h = hll_sketch_agg(user_id)       -- 2^lg_k registers
    hll_1d = hll_union_agg(hll_1h)         -- register-wise max
    estimate = hll_sketch_estimate(hll_*)  -- read at any tier

Register-wise max is associative/commutative/idempotent, so late
partials can be re-unioned safely and a tier row costs O(2^lg_k)
bytes regardless of cardinality. Note the implementation detail:
Spark's DataSketches union merges into an HLL_8 target whose
estimator can differ from the direct HLL_4 sketch by a fraction of
the sketch's own error (observed ~0.5% at lg_k=12), so cascade and
direct agree to within estimation error, not byte-for-byte — the
pytest contract. Default lg_k=12 → 4 KiB per bucket, ~1.6% relative
standard error.

No DuckDB value oracle is possible (the estimate is defined by the
DataSketches register layout, which DuckDB does not implement), so
this family is pytest-verified: cascade-vs-direct estimate equality
and error bounds against exact counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import partials


def hll_base(
    df: DataFrame, tier: str = "1h", key_cols: tuple[str, ...] = ("source",),
    value_col: str = "user_id", ts_col: str = "ts", lg_k: int = 12,
) -> DataFrame:
    """Raw rows → finest distinct-sketch tier (``partials.HLL``): one
    binary sketch column per (keys, bucket). Same single groupBy
    shuffle as ``rollup_base``; the sketch aggregate is map-side
    combinable (partial sketches union in the combiner)."""
    return partials.base(
        partials.HLL, df, tier, key_cols, ts_col, value_col=value_col, lg_k=lg_k
    )


def hll_cascade(finer: DataFrame, tier: str, key_cols: tuple[str, ...] = ("source",)) -> DataFrame:
    """Finer sketch tier → coarser sketch tier (register-wise max via
    sketch union). Scans sketches, never raw rows."""
    return partials.cascade(partials.HLL, finer, tier, key_cols)


def hll_estimate(
    tier_df: DataFrame, out_col: str = "approx_distinct"
) -> DataFrame:
    """Read the distinct estimate from a sketch tier (derived at read,
    never materialized — the ``with_mean`` convention)."""
    return tier_df.withColumn(
        out_col, F.hll_sketch_estimate(F.col("distinct_hll"))
    ).drop("distinct_hll")


# --------------------------------------------------------------------------
# Portable HLL: engine-reproducible register relation
# --------------------------------------------------------------------------
#
# The DataSketches-backed family above is the production path, but its
# register layout (and hence its estimate) is defined by the sketch
# library, so no second engine can value-check it. This variant trades
# ~nothing at the algorithm level for full portability: the repo's
# 60-bit md5 hash (``textops.dedup.md5int`` — the same scheme the
# Bloom words and LSH bands use), registers kept as a SPARSE RELATION
# ``(keys…, ts, idx, rho)`` instead of an opaque binary, and pure
# integer arithmetic everywhere (a shift ladder for the leading-zero
# count, a 2^33-scaled exact-integer harmonic sum). Every step is
# reproducible bit-for-bit in ANSI SQL, so the driver's DuckDB oracle
# can certify it — the only float ops are the final estimate division
# and the small-range log, both rounded at the query edge.
#
# Geometry: p=8 → m=256 registers, w = 32 hash bits above the index
# bits → rho ∈ [1, 33]; relative standard error 1.04/sqrt(256) ≈ 6.5%.
# A register tier row is 3 small ints; a bucket costs ≤ 256 rows
# regardless of cardinality, and the cascade merge (register-wise MAX)
# is associative, commutative, and idempotent — late partials re-union
# safely, the same contract as every other tier partial here.

PHLL_P = 8
PHLL_M = 1 << PHLL_P  # 256 registers
#: alpha_m * m^2 * 2^33 for m=256 — inlined as the SAME Python float
#: literal in both the Spark expression and the DuckDB oracle so the
#: two engines evaluate an identical constant.
PHLL_NUM = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * float(1 << 33)


def phll_register_rows(
    df: DataFrame,
    value_col: str,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One (carry…, idx, rho) row per non-null value — the
    pre-aggregation rows of ``partials.PHLL``.

    idx = low p bits of the 60-bit md5 hash; w = the next 32 bits;
    rho = position of w's leftmost 1-bit counted from the MSB of the
    32-bit window (1-based), 33 when w = 0. The leading-zero count is
    a 5-step halving ladder (16/8/4/2/1) on exact BIGINTs — no log2
    doubles, so any engine computes the identical register.
    """
    from ..textops.dedup import md5int

    h = md5int(F.col(value_col).cast("string"))
    rows = df.where(F.col(value_col).isNotNull()).select(
        *carry_cols,
        (h % F.lit(PHLL_M)).cast("int").alias("idx"),
        F.shiftright(h, PHLL_P).bitwiseAND(F.lit(0xFFFFFFFF)).alias("__w"),
    )
    # 5-step halving ladder: bitlen(__w) over 32 bits, all exact ints.
    for width in (16, 8, 4, 2, 1):
        hi = F.col("__w") >= F.lit(1 << width)
        rows = rows.withColumn(
            f"__b{width}", F.when(hi, F.lit(width)).otherwise(F.lit(0))
        ).withColumn(
            "__w",
            F.when(hi, F.shiftright(F.col("__w"), width)).otherwise(
                F.col("__w")
            ),
        )
    bitlen = (
        F.col("__b16") + F.col("__b8") + F.col("__b4") + F.col("__b2")
        + F.col("__b1") + F.col("__w")
    )
    rho = (F.lit(33) - bitlen).cast("int")
    return rows.select(*carry_cols, "idx", rho.alias("rho"))


def phll_partial(
    df: DataFrame, tier: str = "1h", key_cols: tuple[str, ...] = ("source",),
    value_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Raw rows → finest portable-HLL register tier (``partials.PHLL``):
    one row per (keys, bucket, register) holding max rho. Single
    hash-aggregate shuffle; MAX partials combine map-side, and the
    output is bounded at m=256 rows per (keys, bucket) whatever the
    input cardinality.
    """
    return partials.base(partials.PHLL, df, tier, key_cols, ts_col, value_col=value_col)


def phll_cascade(finer: DataFrame, tier: str, key_cols: tuple[str, ...] = ("source",)) -> DataFrame:
    """Finer register tier → coarser (register-wise MAX). Scans the
    bounded register relation, never raw rows; also the late-partial
    fold (MAX is idempotent, so re-unioning a batch is safe)."""
    return partials.cascade(partials.PHLL, finer, tier, key_cols)


def phll_estimate(
    reg: DataFrame, key_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Register tier → distinct estimate per (keys, bucket).

    The harmonic sum stays EXACT: sum(2^(33-rho)) over present
    registers plus 2^33 per absent one, scaled integers ≤ 2^41, so the
    only floats are the final division and the small-range linear-
    counting log (Flajolet et al. 2007: E ≤ 2.5m with empty registers
    → m·ln(m/zeros)). ``approx_distinct`` is rounded at the edge;
    ``registers_present`` and ``inv_sum_scaled`` expose the exact
    integer state for engine-parity checks.
    """
    m = PHLL_M
    agg = reg.groupBy(*key_cols, "ts").agg(
        F.count("*").alias("registers_present"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - rho AS INT))")
        ).alias("__present_sum"),
    )
    zeros = F.lit(m) - F.col("registers_present")
    inv_sum = F.col("__present_sum") + zeros * F.lit(1 << 33)
    raw = F.lit(PHLL_NUM) / inv_sum.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *key_cols,
        "ts",
        "registers_present",
        inv_sum.alias("inv_sum_scaled"),
        F.round(est, 4).alias("approx_distinct"),
    )


def phll_running_union(
    reg: DataFrame, key_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Registers → CUMULATIVE registers: row (keys, ts, idx, rho)
    where rho is the register-wise MAX over all buckets ≤ ts. Feeding
    the result to :func:`phll_estimate` yields the distinct-growth
    curve — cumulative cardinality per bucket — without ever touching
    raw rows (corpus growth / dedup-rate-over-time at 10^12 ids).

    A register absent at ts must still carry its older value forward,
    so the sparse relation is first densified to the per-key
    (bucket × seen-register) grid — both sides are bounded (buckets
    per key × ≤256 registers), so the grid join is metadata-scale
    next to the raw data. The window MAX then runs per (keys, idx):
    at most one sort of ≤ #buckets rows per register.
    """
    from pyspark.sql import Window

    buckets = reg.select(*key_cols, "ts").distinct()
    regs = reg.select(*key_cols, "idx").distinct()
    grid = buckets.join(regs, list(key_cols)) if key_cols else (
        buckets.crossJoin(regs)
    )
    dense = grid.join(reg, [*key_cols, "ts", "idx"], "left")
    w = (
        Window.partitionBy(*key_cols, "idx")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.withColumn("rho", F.max("rho").over(w))
    return cum.where(F.col("rho").isNotNull())


def phll_overlap(
    reg_a: DataFrame,
    reg_b: DataFrame,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct-set OVERLAP of two register relations by
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    the union sketch is the register-wise MAX — exact at the register
    level, so the only approximation is HLL's own. The classic
    audience-overlap / cross-corpus-contamination read at sketch
    cost: three bounded estimates, no id-level join anywhere.

    Inputs must share the grouping columns (e.g. both collapsed to
    one global bucket, or both per-day). Output: one row per group
    with est_a / est_b / est_union / est_intersection (clamped ≥ 0).
    """
    a = phll_estimate(reg_a, key_cols=key_cols).select(
        *key_cols, "ts", F.col("approx_distinct").alias("est_a")
    )
    b = phll_estimate(reg_b, key_cols=key_cols).select(
        *key_cols, "ts", F.col("approx_distinct").alias("est_b")
    )
    union_reg = (
        reg_a.unionByName(reg_b)
        .groupBy(*key_cols, "ts", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    u = phll_estimate(union_reg, key_cols=key_cols).select(
        *key_cols, "ts", F.col("approx_distinct").alias("est_union")
    )
    keys = [*key_cols, "ts"]
    out = a.join(b, keys).join(u, keys)
    return out.withColumn(
        "est_intersection",
        F.round(
            F.greatest(
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
                F.lit(0.0),
            ),
            4,
        ),
    )

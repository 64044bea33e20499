"""Per-partition lineage + metrics, and checkpoint/resume bookkeeping.

north_rule: "resumable from Iceberg-snapshot checkpoints with
per-partition lineage and metrics rows."

Every pipeline stage writes, together with its data snapshot, a
lineage table whose rows are the stage's work units:

    unit     '<source>/<bucket>/<salt>' (compress) or '<keys…>/<day>'
    stage    'compress' | a tier table ('tier_1m', 'tier_1h', 'hist_1d', …)
    snapshot the data snapshot id this unit landed in
    rows_out rows the unit wrote

Resume contract: a restarted run lists pending units, anti-joins them
against lineage rows of completed snapshots, and processes only the
remainder; because data + lineage commit under the same snapshot swap
(one ``publish`` of a catalog commit group: runner.py, and the tier
fold in partials.py), a unit is either fully present with its lineage
row or absent — never double-counted.

Every writer adds its rows as a catalog APPEND (``stage(...,
append=True)``): one new file beside the committed ones, which are
never read or rewritten, so a lineage write costs O(its own rows), not
O(every row ever recorded).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog

LINEAGE_TABLE = "lineage"


def unit_key(unit_cols: list[str]) -> Column:
    """A row's work unit as its lineage string: the unit columns joined
    by '/'."""
    return F.concat_ws("/", *[F.col(c).cast("string") for c in unit_cols])


def lineage_rows(
    df: DataFrame, stage: str, snapshot: str, unit_cols: list[str]
) -> DataFrame:
    """Build lineage rows from a stage output: one row per work unit.
    Groups by the unit columns themselves and builds the unit string
    after, so a frame already clustered by a subset of them (a tier
    clustered by ``day``) is aggregated with no shuffle."""
    rows_out = (
        F.sum(F.coalesce(F.col("n_rows"), F.lit(1)))
        if "n_rows" in df.columns
        else F.count("*")
    )
    units = df.groupBy(*unit_cols).agg(rows_out.alias("rows_out"))
    return units.select(
        unit_key(unit_cols).alias("unit"),
        F.lit(stage).alias("stage"),
        F.lit(snapshot).alias("snapshot"),
        "rows_out",
    )


def append_lineage(catalog: ParquetSnapshotCatalog, spark: SparkSession, rows: DataFrame) -> str:
    """Append lineage rows, as one file, as a new lineage snapshot on its own."""
    return catalog.write_snapshot(rows.coalesce(1), LINEAGE_TABLE, append=True)


def completed_units(
    catalog: ParquetSnapshotCatalog, spark: SparkSession, stage: str
) -> DataFrame | None:
    """Units already done for a stage (None when no lineage yet)."""
    if not catalog.exists(LINEAGE_TABLE):
        return None
    return (
        catalog.read(spark, LINEAGE_TABLE)
        .filter(F.col("stage") == stage)
        .select("unit")
        .distinct()
    )


def pending_rows(df: DataFrame, done: DataFrame | None, unit_cols: list[str]) -> DataFrame:
    """The rows of ``df`` whose work unit no completed lineage row
    lists (an anti-join on the unit string)."""
    if done is None:
        return df
    return df.join(done, unit_key(unit_cols) == done["unit"], "left_anti")

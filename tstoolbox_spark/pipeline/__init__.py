"""Rollup + retention pipeline: salted bucketing, per-bucket Gorilla
compression, tiered continuous aggregates (1m → 1h → 1d), TTL
retention, per-partition lineage + metrics, snapshot-checkpoint
resume. See runner.run_pipeline for the end-to-end job.
"""

# partials first: it imports the family modules (which import it
# back), so every family is fully loaded before its spec is built
from . import partials  # noqa: F401
from . import (  # noqa: F401
    bucketing,
    compress,
    ddsketch,
    incremental,
    lineage,
    retention,
    rollup,
    runner,
)

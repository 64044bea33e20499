"""End-to-end training-corpus curation: one resumable pipeline over
the textops stages.

Every individual operator exists (and is oracle-checked) elsewhere;
this module is the COMPOSITION a data team actually runs, in the
published order of the public pipelines (Gopher/MassiveWeb, Rae et
al. 2021; RefinedWeb, Penedo et al. 2023):

    normalize → exact dedup → near-dup dedup (keep best copy) →
    quality filter → eval-set decontamination → mixture sampling →
    train/val/test split → tokenize → pack to fixed-length sequences

Each stage's output commits through the snapshot catalog as its own
table (``curate_<stage>``) with a lineage row recording rows in/out —
so a crashed run resumes at the first uncommitted stage (the same
snapshot/lineage contract as the rollup tiers), every intermediate is
inspectable/time-travelable, and the funnel report (how many docs each
stage removed) is a lineage query, not a log grep.

Scale shape notes (per stage, at 10^12 docs):
- normalize, quality, decontam-flag, split, tokenize: narrow
  projections / broadcast joins — no shuffle.
- exact dedup: one groupBy on the content hash.
- near-dup: LSH-bounded (never all-pairs) + O(diameter) label rounds;
  a standing corpus would use pipeline.incremental_dedup instead of
  re-running this stage per snapshot.
- mixture/split: deterministic md5 tickets — idempotent, subset-stable.
- pack: distributed prefix-sum packing, no single-task sort.

Tokenization here is the deterministic hash-vocabulary shape (regex
pre-tokens → md5 mod vocab_size): the real tokenizer model is an
external artifact, but the Spark plumbing — one narrow projection,
array<int> out, no Python in the row path — is exactly what a fixed
BPE vocab lookup compiles to (swap ``hash_tokenize`` for a broadcast
vocab map join to use a trained ``learn_bpe`` table).
"""

from __future__ import annotations

import time as _time
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog
from ..textops.contamination import ngram_contamination
from ..textops.dedup import canonical_pick, exact_dedup, md5int, near_dup_clusters
from ..textops.packing import chunk_pack_tokens
from ..textops.quality import gopher_quality_flags, quality_score, text_normalize
from ..textops.sampling import assign_split, mixture_sample
from . import lineage as _lineage


@dataclass
class CurationSpec:
    """Knobs for one curation run. A spec change means a new catalog
    root (stage tables are resumed by existence, not fingerprint)."""

    near_dup_threshold: float = 0.5
    min_quality_score: float | None = None
    use_gopher_filter: bool = True
    gopher_kwargs: Mapping = field(default_factory=dict)
    contamination_ngram: int = 8
    mixture: Mapping[str, float] | None = None
    splits: Mapping[str, float] = field(
        default_factory=lambda: {"train": 0.98, "val": 0.01, "test": 0.01}
    )
    seq_len: int = 1024
    vocab_size: int = 50257
    salt: str = ""


def hash_tokenize(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic token ids: GPT-2-shaped regex pre-tokens, each
    mapped to ``md5(token) % vocab_size``. One narrow projection —
    the plan shape of any fixed-vocab tokenizer lookup."""
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    ids = F.transform(toks, lambda t: (md5int(t) % vocab_size).cast("int"))
    return df.withColumn("tokens", ids).withColumn(
        "n_tok", F.size("tokens").cast("int")
    )


def _stage(
    spark: SparkSession,
    catalog: ParquetSnapshotCatalog,
    name: str,
    build,
    report: dict,
    passthrough_of: DataFrame | None = None,
) -> DataFrame:
    """Run (or resume) one curation stage: read the committed table if
    it exists, else build and commit the table TOGETHER WITH its
    lineage funnel row in one atomic commit group (a crash can never
    leave a committed stage without its funnel row).

    ``passthrough_of``: when the stage is configured off (no eval set,
    no mixture), pass the input frame — the stage records its funnel
    row as skipped in the report and is NOT re-materialized (at scale
    a no-op stage must not rewrite the corpus)."""
    if passthrough_of is not None:
        report[name] = {"rows": report[_prev_stage(report)]["rows"],
                        "resumed": False, "skipped": True}
        return passthrough_of
    table = f"curate_{name}"
    if catalog.exists(table):
        t0 = _time.time()
        out = catalog.read(spark, table)
        report[name] = {"rows": out.count(), "resumed": True,
                        "secs": round(_time.time() - t0, 2)}
        return out
    t0 = _time.time()
    df = build().localCheckpoint()
    n = df.count()
    # lineage row built off range(1), NOT off the stage data — a stage
    # that (correctly) empties the corpus still records its funnel row
    row = spark.range(1).select(
        F.lit(name).alias("unit"),
        F.lit(f"curate:{name}").alias("stage"),
        F.lit(f"group:curate:{name}").alias("snapshot"),
        F.lit(n).cast("long").alias("rows_out"),
    )
    lin = catalog.current_snapshot(_lineage.LINEAGE_TABLE)
    catalog.publish([
        (table, catalog.stage(df, table), None),
        (_lineage.LINEAGE_TABLE, catalog.stage(row, _lineage.LINEAGE_TABLE, append=True),
         lin and lin["id"]),
    ])
    out = catalog.read(spark, table)
    report[name] = {"rows": n, "resumed": False,
                    "secs": round(_time.time() - t0, 2)}
    return out


def _prev_stage(report: dict) -> str:
    return next(reversed(report))


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    catalog: ParquetSnapshotCatalog,
    spec: CurationSpec | None = None,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> dict:
    """Run the curation funnel over ``docs`` (needs ``id_col``,
    ``text_col``, and ``source_col`` when a mixture is requested).
    Returns the funnel report {stage: {rows, resumed}}; the packed
    sequences live in the catalog as ``curate_sequences``."""
    spec = spec or CurationSpec()
    report: dict = {}
    report["input"] = {"rows": docs.count(), "resumed": False}

    normalized = _stage(
        spark, catalog, "normalized",
        lambda: text_normalize(docs, text_col=text_col, out_col=text_col),
        report,
    )

    def _exact():
        keepers = exact_dedup(normalized, text_col, id_col).select(
            F.col("keeper").alias(id_col)
        )
        # keepers is ~corpus-sized on a mostly-unique corpus: no
        # broadcast hint — AQE picks shuffle vs broadcast by size
        return normalized.join(keepers, id_col, "left_semi")

    exact = _stage(spark, catalog, "exact_dedup", _exact, report)

    def _near():
        clusters = near_dup_clusters(
            exact, text_col, id_col, threshold=spec.near_dup_threshold
        )
        scores = exact.select(
            id_col, F.length(text_col).cast("long").alias("n_chars")
        )
        best = canonical_pick(clusters, scores, id_col, "n_chars").select(id_col)
        return exact.join(best, id_col, "left_semi")

    near = _stage(spark, catalog, "near_dedup", _near, report)

    def _quality():
        out = near
        if spec.use_gopher_filter:
            keep = gopher_quality_flags(
                out, text_col, id_col, **spec.gopher_kwargs
            ).filter(F.col("keep")).select(id_col)
            out = out.join(keep, id_col, "left_semi")
        if spec.min_quality_score is not None:
            good = quality_score(out, text_col, id_col).filter(
                F.col("quality_score") >= spec.min_quality_score
            ).select(id_col)
            out = out.join(good, id_col, "left_semi")
        return out

    quality = _stage(spark, catalog, "quality", _quality, report)

    def _decontam():
        flags = ngram_contamination(
            quality, eval_df, n=spec.contamination_ngram,
            text_col=text_col, id_col=id_col,
        )
        # anti-join on the FLAGGED set: docs too short to produce any
        # n-gram are absent from the flags frame entirely and must
        # survive (a semi-join on the clean set would drop them).
        # No broadcast hint (VERDICT r4 #5): realistic contamination
        # is rare and AQE converts the small case to broadcast at
        # runtime, but a hard hint would attempt an unbounded
        # broadcast on an adversarially contaminated corpus.
        bad = flags.filter(F.col("contaminated")).select(id_col)
        return quality.join(bad, id_col, "left_anti")

    decontam = _stage(spark, catalog, "decontam", _decontam, report,
                      passthrough_of=quality if eval_df is None else None)

    def _mixture():
        return mixture_sample(
            decontam, spec.mixture, strata_col=source_col,
            id_col=id_col, salt=spec.salt,
        )

    mixed = _stage(spark, catalog, "mixture", _mixture, report,
                   passthrough_of=decontam if spec.mixture is None else None)

    def _split():
        return assign_split(mixed, spec.splits, id_col=id_col, salt=spec.salt)

    split = _stage(spark, catalog, "split", _split, report)

    def _tokens():
        return hash_tokenize(
            split, spec.vocab_size, text_col, id_col
        ).select(id_col, "split", "tokens", "n_tok")

    tokens = _stage(spark, catalog, "tokens", _tokens, report)

    def _sequences():
        return chunk_pack_tokens(
            tokens, spec.seq_len, tokens_col="tokens",
            order_col=id_col, key_cols=("split",),
        )

    _stage(spark, catalog, "sequences", _sequences, report)
    return report


def funnel_report(spark: SparkSession, catalog: ParquetSnapshotCatalog) -> DataFrame:
    """The curation funnel as a lineage query: per stage, rows kept —
    read from the committed lineage table, no recomputation."""
    return (
        catalog.read(spark, _lineage.LINEAGE_TABLE)
        .filter(F.col("stage").startswith("curate:"))
        .select(
            F.regexp_replace("stage", "^curate:", "").alias("stage"),
            "rows_out", "snapshot",
        )
    )

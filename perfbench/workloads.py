"""The benchmark's workloads. Each one builds its inputs from the seed,
resets its state before every timed iteration (untimed), runs one
closed-loop iteration through the program's public functions, and
checks the iteration's outputs (untimed).

batch_rollup   run_pipeline(verify=True) over Zipf-skewed generated
               sequences: bucketing, compress, codec, tables, lineage and
               rollup. It bypasses streaming. Its traced run also probes
               the serving layers on the tiers it wrote: router queries,
               refresh_all_tiers with a late batch, the operator chain.
stream_rollup  the same rollup semantics through the streaming twin:
               1m drain, then the 1h and 1d cascades. It bypasses
               bucketing, compress, codec, lineage, router, operators and
               incremental refresh.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

from tstoolbox_spark.codec.gorilla import decode_bucket, encode_bucket
from tstoolbox_spark.datagen import EPOCH, generate_sequences
from tstoolbox_spark.operators.aggregate import aggregate
from tstoolbox_spark.operators.core import date_slice, regularize
from tstoolbox_spark.operators.fill import fill
from tstoolbox_spark.operators.window import rolling_window
from tstoolbox_spark.pipeline import bucketing, compress, incremental, lineage, rollup
from tstoolbox_spark.pipeline.runner import run_pipeline
from tstoolbox_spark.plans.router import route_tier_query
from tstoolbox_spark.streaming.continuous import continuous_cascade, continuous_rollup
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import with_time_axis

from .tracing import StageLog

PARTIALS = ["n_tok_sum", "n_tok_count", "n_tok_min", "n_tok_max"]

#: run_pipeline phase → the layer that does its work
PHASE_LAYER = {
    "scan_bucket_cache": "bucketing",
    "resume_bookkeeping": "lineage",
    "compress_write_lineage": "compress",
    "size_stats": "runner",
    "verify": "compress",
    "tiers_write_lineage": "rollup",
}
#: span-name prefix → layer, for the spans the benchmark itself opens
SPAN_LAYER = {"runner": "runner", "stream": "streaming"}
LAYERS = ["bucketing", "lineage", "compress", "runner", "rollup", "streaming"]

#: one query per tier: two fixed frequencies and one calendar frequency
ROUTER_FREQS = ("15T", "6H", "M")
#: the router answer compared with rollup_base over raw ∪ late, and
#: the tier that rollup_base computes it with
CHECK_FREQ, CHECK_TIER = "M", "1mo"


def noop(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, ignoring checksums and markers."""
    size, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size / 2**20, files


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def mismatched_partials(got, want, keys) -> int:
    """Rows of ``got`` missing from ``want`` or differing in a partial."""
    j = got.alias("g").join(want.alias("w"), keys, "left")
    bad = F.col("w.n_tok_count").isNull()
    for c in PARTIALS:
        bad = bad | (F.col(f"g.{c}") != F.col(f"w.{c}"))
    return j.filter(bad).count()


def rollup_probes(spark, seq, catalog: ParquetSnapshotCatalog, scratch: str) -> dict:
    """rollup and tables layer timings on one workload's own data."""
    m = {}
    base = rollup.rollup_base(with_time_axis(seq), "1m")
    m["rollup.base_1m_s"] = timed(lambda: noop(base))
    m["rollup.cascade_1h_s"] = timed(
        lambda: noop(rollup.rollup_cascade(catalog.read(spark, "tier_1m"), "1h")))
    m["rollup.cascade_1d_s"] = timed(
        lambda: noop(rollup.rollup_cascade(catalog.read(spark, "tier_1h"), "1d")))
    m["tables.read_s"] = timed(lambda: noop(catalog.read(spark, "tier_1m")))
    probe = ParquetSnapshotCatalog(fresh_dir(scratch))
    tier = catalog.read(spark, "tier_1m").cache()
    tier.count()
    m["tables.write_snapshot_s"] = timed(
        lambda: probe.write_snapshot(tier, "tier_1m", partition_by=["day"]))
    day = str(tier.select(F.min("day")).first()[0])
    m["tables.overwrite_partitions_s"] = timed(
        lambda: probe.overwrite_partitions(
            spark, tier.where(F.col("day") == day), "tier_1m", "day", [day]))
    tier.unpersist()
    return m


class BatchRollup:
    name = "batch_rollup"

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_seq = 2_000 if smoke else 10_000
        # 16 buckets x 200-row cell target: the hot source (~52% of rows)
        # gets 2 salts, so salting is exercised as at full scale
        self.n_buckets, self.cell_rows = (4, 250) if smoke else (16, 200)
        self.n_events = 2_000 if smoke else 10_000
        # the late batch is cut to the last day of the 30-day axis, so a
        # refresh rewrites one day partition per tier
        self.n_late_gen = 3_000 if smoke else 15_000
        self.warmup = 1
        d = lambda *p: os.path.join(work, *p)  # noqa: E731
        self.input, self.events, self.late = d("input"), d("events"), d("late")
        self.tables = d("tables")

    def build_inputs(self) -> None:
        generate_sequences(self.spark, self.n_seq, seed=self.seed).write.mode(
            "overwrite").parquet(self.input)

    def prepare(self) -> None:
        self.seq = self.spark.read.parquet(self.input)
        row = self.seq.agg(
            F.count("*").alias("rows"),
            F.sum("n_tok").alias("tokens"),
            F.sum(F.octet_length("doc_id")).alias("id_bytes"),
        ).first()
        self.expect = {
            "rows": row["rows"],
            "tokens": row["tokens"],
            "raw_bytes": row["rows"] * 16 + row["tokens"] * 4 + row["id_bytes"],
        }
        self.ratio = None

    def reset(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)

    def iterate(self, tracer) -> dict:
        t0 = time.perf_counter()
        with tracer.span("runner.run_pipeline") as sp:
            m = run_pipeline(
                self.spark, self.seq, self.tables, n_buckets=self.n_buckets,
                target_rows_per_cell=self.cell_rows, verify=True,
            )
        m["wall_s"] = time.perf_counter() - t0
        tracer.add_children(sp, [(f"runner.phase.{k}", v) for k, v in m["phases"].items()])
        return m

    def items_per_s(self, outs: list[dict]) -> float:
        return self.n_seq / statistics.median(o["wall_s"] for o in outs)

    def check(self, m: dict) -> list[str]:
        errors = []
        if m["roundtrip"]["mismatched"] != 0:
            errors.append(f"round-trip mismatch: {m['roundtrip']}")
        if m["sequences"] != self.expect["rows"]:
            errors.append(f"sequences {m['sequences']} != {self.expect['rows']}")
        if m["raw_bytes"] != self.expect["raw_bytes"]:
            errors.append(f"raw_bytes {m['raw_bytes']} != {self.expect['raw_bytes']}")
        # the codec is deterministic: every iteration must give the same
        # ratio, and the generator's token entropy puts it near 1.97
        if self.ratio is None:
            self.ratio = m["compression_ratio"]
        if m["compression_ratio"] != self.ratio or not 1.9 < self.ratio < 2.05:
            errors.append(f"compression_ratio {m['compression_ratio']} (first {self.ratio})")
        day = ParquetSnapshotCatalog(self.tables).read(self.spark, "tier_1d").agg(
            F.sum("n_tok_count"), F.sum("n_tok_sum")).first()
        if tuple(day) != (self.expect["rows"], self.expect["tokens"]):
            errors.append(f"1d tier totals {tuple(day)} != input totals")
        return errors

    def layer_metrics(self, outs: list[dict], check) -> dict:
        """Per-layer numbers the program does not report itself, from
        probes run after the traced iterations on the same input and on
        the tables the last one left. ``check(errors)`` records one
        output check."""
        spark, m = self.spark, {}
        med = statistics.median
        for phase in PHASE_LAYER:
            m[f"runner.phase.{phase}_s"] = med(o["phases"][phase] for o in outs)
        m["compress.ratio"] = outs[-1]["compression_ratio"]
        m["compress.roundtrip_mismatches"] = sum(o["roundtrip"]["mismatched"] != 0 for o in outs)
        m["tables.bytes_written_mb"], m["tables.files_written"] = dir_stats(self.tables)
        catalog = ParquetSnapshotCatalog(self.tables)
        m.update(self.serve_probes(catalog, check))

        seq = with_time_axis(self.seq)
        t = time.perf_counter()
        plan = bucketing.source_salt_plan(seq, self.cell_rows, self.n_buckets)
        m["bucketing.salt_plan_s"] = time.perf_counter() - t
        cells = bucketing.with_bucket_salt(seq, plan, self.n_buckets).cache()
        sizes = sorted(
            r["count"] for r in cells.groupBy("source", "bucket", "salt").count().collect())
        m["bucketing.cells"] = len(sizes)
        m["bucketing.cell_rows_max_over_median"] = sizes[-1] / med(sizes)

        stages = StageLog(spark)
        ids = stages.last_ids()
        m["compress.encode_s"] = timed(lambda: noop(compress.compress(cells)))
        encode_stage_s = sum(s["run_s"] for s in stages.since(ids)[1])
        comp = catalog.read(spark, "compressed")
        ids = stages.last_ids()
        m["compress.decode_s"] = timed(lambda: noop(compress.decompress(comp)))
        decode_stage_s = sum(s["run_s"] for s in stages.since(ids)[1])
        m["compress.verify_s"] = timed(
            lambda: compress.verify_roundtrip(cells, compress.decompress(comp)))
        # hand-off = executor time of the codec stages minus the kernel's
        # own time on the same cells, timed in-process
        kernel_enc, kernel_dec = kernel_seconds(cells, comp)
        m["compress.arrow_handoff_s"] = (encode_stage_s - kernel_enc) + (
            decode_stage_s - kernel_dec)
        cells.unpersist()

        lin = lineage.lineage_rows(comp, "probe", "probe", ["source", "bucket", "salt"])
        probe = ParquetSnapshotCatalog(fresh_dir(os.path.join(self.work, "probe_lineage")))
        m["lineage.append_s"] = timed(lambda: lineage.append_lineage(probe, spark, lin))
        m.update(rollup_probes(spark, self.seq, catalog, os.path.join(self.work, "probe_tables")))
        return m

    def serve_probes(self, catalog: ParquetSnapshotCatalog, check) -> dict:
        """Serving from the tiers run_pipeline wrote: router queries, a
        late batch folded with refresh_all_tiers, the queries again, and
        the tstoolbox verb chain over generated events, each verb timed
        on its cached input. The router answer after the refresh must
        equal rollup_base over raw + late."""
        spark, seed, m = self.spark, self.seed, {}
        last_day = F.expr(f"timestamp'{EPOCH}' + INTERVAL 29 DAYS")
        late = with_time_axis(generate_sequences(spark, self.n_late_gen, seed=seed + 1))
        late.where(F.col("ts") >= last_day).write.mode("overwrite").parquet(self.late)
        late = spark.read.parquet(self.late)
        h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
        spark.range(self.n_events, numPartitions=4).select(
            F.timestamp_seconds(
                F.unix_timestamp(F.lit(EPOCH)) + F.pmod(h, F.lit(30 * 86400))
            ).alias("ts"),
            F.element_at(
                F.array(*[F.lit(e) for e in ("click", "view", "signup", "purchase", "error")]),
                (F.pmod(h, F.lit(5)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), F.lit(100_000)) / 100.0).alias(
                "value"),
        ).write.mode("overwrite").parquet(self.events)

        lat, hits, answer = {}, {}, None
        for pass_ in range(2):
            for freq in ROUTER_FREQS:
                t = time.perf_counter()
                df, tier = route_tier_query(spark, catalog, freq, with_mean=False)
                rows = df.collect()
                lat.setdefault(freq, []).append(time.perf_counter() - t)
                hits[tier] = hits.get(tier, 0) + 1
                if freq == CHECK_FREQ:
                    answer = rows
            if pass_ == 0:
                m["incremental.refresh_s"] = timed(
                    lambda: incremental.refresh_all_tiers(catalog, spark, late))
        for freq in ROUTER_FREQS:
            m[f"router.latency_ms.{freq}"] = 1e3 * statistics.median(lat[freq])
        for tier in ("1m", "1h", "1d"):
            m[f"router.tier_hits.{tier}"] = hits.get(tier, 0)
        all_lat = [x for xs in lat.values() for x in xs]
        m["serve.query_p50_ms"] = 1e3 * statistics.median(all_lat)
        m["serve.queries"] = len(all_lat)
        m["incremental.days_touched"] = len(
            incremental.touched_days(rollup.rollup_base(late, "1m")))

        both = with_time_axis(self.seq).select("source", "ts", "n_tok").unionByName(
            late.select("source", "ts", "n_tok"))
        want = {(r["source"], r["ts"]): tuple(r[c] for c in PARTIALS)
                for r in rollup.rollup_base(both, CHECK_TIER).collect()}
        got = {(r["source"], r["ts"]): tuple(r[c] for c in PARTIALS) for r in answer}
        bad = len(set(got.items()) ^ set(want.items()))
        m["incremental.router_check_mismatches"] = bad
        check([f"router {CHECK_FREQ} after refresh: {bad} rows differ from rollup_base "
               "over raw + late"] if bad else [])

        keys = ["event_type"]
        steps = [
            ("aggregate", lambda d: aggregate(d, "H", "mean", value_cols=["value"],
                                              key_cols=keys)),
            ("regularize", lambda d: regularize(d, "H", key_cols=keys)),
            ("fill", lambda d: fill(d, "linear", key_cols=keys)),
            ("rolling_window", lambda d: rolling_window(d, "mean", window=24, key_cols=keys)),
            ("date_slice", lambda d: date_slice(d, "2024-01-08", "2024-01-22")),
        ]

        def chain(df):
            for _, fn in steps:
                df = fn(df)
            return df

        m["operators.chain_ms"] = 1e3 * timed(lambda: noop(chain(spark.read.parquet(self.events))))
        ev = spark.read.parquet(self.events).cache()
        ev.count()
        cached = [ev]
        for name, fn in steps:
            nxt = fn(cached[-1]).cache()
            m[f"operators.{name}_ms"] = 1e3 * timed(nxt.count)
            cached.append(nxt)
        for d in cached:
            d.unpersist()
        return m


def kernel_seconds(cells, comp) -> tuple[float, float]:
    """Single-core encode and decode time of the codec kernel over the
    same cells the Spark stages processed (collected into this process)."""
    tbl = cells.select("source", "bucket", "salt", "ts", "n_tok", "tokens", "doc_id").toArrow()
    tbl = tbl.sort_by([("source", "ascending"), ("bucket", "ascending"), ("salt", "ascending"),
                       ("ts", "ascending"), ("doc_id", "ascending")])
    keys = zip(*(tbl[c].to_pylist() for c in ("source", "bucket", "salt")))
    enc, start = 0.0, 0
    for _, run in itertools.groupby(keys):
        n = sum(1 for _ in run)
        part = tbl.slice(start, n)
        start += n
        ts = part["ts"].to_numpy().astype("datetime64[us]").view(np.int64)
        n_tok = part["n_tok"].to_numpy().astype(np.int64)
        toks = part["tokens"].combine_chunks().flatten().to_numpy().astype(np.int64)
        lens = pc.binary_length(part["doc_id"]).to_numpy().astype(np.uint64)
        blob = "".join(part["doc_id"].to_pylist()).encode()
        t = time.perf_counter()
        encode_bucket(ts, n_tok, toks, (lens, blob))
        enc += time.perf_counter() - t
    dec = 0.0
    for blob in comp.select("blob").toArrow()["blob"].to_pylist():
        t = time.perf_counter()
        decode_bucket(blob, raw_ids=True)
        dec += time.perf_counter() - t
    return enc, dec


class StreamRollup:
    name = "stream_rollup"

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_seq = 2_000 if smoke else 10_000
        self.n_files = 2 if smoke else 4
        self.warmup = 1
        d = lambda *p: os.path.join(work, *p)  # noqa: E731
        self.src, self.ref_1m, self.it = d("src"), d("ref_1m"), d("iter")

    def build_inputs(self) -> None:
        generate_sequences(self.spark, self.n_seq, seed=self.seed,
                           partitions=self.n_files).write.mode("overwrite").parquet(self.src)

    def prepare(self) -> None:
        raw = self.spark.read.parquet(self.src)
        rollup.rollup_base(with_time_axis(raw), "1m").write.mode("overwrite").parquet(
            self.ref_1m)
        self.src_files = sorted(f for f in os.listdir(self.src) if f.endswith(".parquet"))

    def reset(self) -> None:
        fresh_dir(self.it)
        os.makedirs(os.path.join(self.it, "in"))
        for f in self.src_files:
            shutil.copy(os.path.join(self.src, f), os.path.join(self.it, "in", f))

    def iterate(self, tracer) -> dict:
        spark, it = self.spark, self.it
        p = lambda *x: os.path.join(it, *x)  # noqa: E731
        out: dict = {"progress": [], "stamps": {}}
        t0 = time.perf_counter()
        for name, fn, args in (
            ("stream.drain_1m", continuous_rollup, (p("in"), p("t1m"), p("c1m"))),
            ("stream.cascade_1h", continuous_cascade, (p("t1m"), p("t1h"), p("c1h"), "1h")),
            ("stream.cascade_1d", continuous_cascade, (p("t1h"), p("t1d"), p("c1d"), "1d")),
        ):
            t = time.perf_counter()
            with tracer.span(name):
                q = fn(spark, *args)
                q.awaitTermination()
            out["stamps"][name] = time.perf_counter() - t
            out["progress"].append(q.recentProgress)
        out["wall_s"] = time.perf_counter() - t0
        return out

    def items_per_s(self, outs: list[dict]) -> float:
        """Sequences the streaming twin drains per second (1m drain plus
        the 1h and 1d cascades)."""
        return self.n_seq / statistics.median(o["wall_s"] for o in outs)

    def check(self, out: dict) -> list[str]:
        spark = self.spark
        got = spark.read.parquet(os.path.join(self.it, "t1m"))
        emitted = got.count()
        out["parity_mismatches"] = mismatched_partials(
            got, spark.read.parquet(self.ref_1m), ["ts", "source"])
        if emitted == 0 or out["parity_mismatches"]:
            return [f"stream parity: {out['parity_mismatches']} of {emitted} emitted minutes "
                    "differ from rollup_base"]
        return []

    def layer_metrics(self, outs: list[dict], check) -> dict:
        spark, m = self.spark, {}
        for name in outs[-1]["stamps"]:
            m[f"{name}_s"] = statistics.median(o["stamps"][name] for o in outs)
        m["stream.parity_mismatches"] = sum(o["parity_mismatches"] for o in outs)
        progress = outs[-1]["progress"]
        batches = [b for q in progress for b in q]
        m["stream.batches"] = len(batches)
        dur = lambda k: sum(b["durationMs"].get(k, 0) for b in batches)  # noqa: E731
        m["stream.add_batch_ms"] = dur("addBatch")
        m["stream.query_planning_ms"] = dur("queryPlanning")
        m["stream.wal_commit_ms"] = dur("walCommit")
        ops = [op for q in progress if q for op in q[-1].get("stateOperators", [])]
        m["stream.state_rows"] = sum(op["numRowsTotal"] for op in ops)
        m["stream.state_mb"] = sum(op["memoryUsedBytes"] for op in ops) / 2**20
        m["rollup.base_1m_s"] = timed(lambda: noop(
            rollup.rollup_base(with_time_axis(spark.read.parquet(self.src)), "1m")))
        return m


WORKLOADS = {w.name: w for w in (BatchRollup, StreamRollup)}

#!/usr/bin/env python3
"""Layered benchmark of the rollup engine.

    python3 perfbench/run.py --workload batch_rollup --seed 1 --seconds 20 --trace 0

Run from the repository root. One process starts one local[<cores>]
Spark session, builds the workload's inputs from ``--seed``, discards
warm-up iterations, then runs closed-loop iterations (the next starts
when the previous one ends) until their summed wall time reaches
``--seconds``. State is reset before every iteration and outputs are
checked after it; neither is timed. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics, which come from a further set of
traced iterations and layer probes. The line before it records the
host, the session config and every iteration. ``--smoke`` shrinks every
input for a quick end-to-end check.

Everything the run writes lives under ``.perfbench/`` in the current
directory; the work directory is deleted at exit and span traces are
kept under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: input builds per run; setup_s takes their median
SETUP_REPS = 3
#: fewest timed iterations per run, whatever ``--seconds`` says
MIN_ITERS = 2
#: traced iterations per ``--trace 1`` run, each paired with an untraced one
TRACED_ITERS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "seq_per_s": "1/s",
}


def _per_layer_units() -> dict[str, str]:
    u = {"session.start_s": "s", "datagen.gen_s": "s",
         "bucketing.salt_plan_s": "s", "bucketing.cells": "count",
         "bucketing.cell_rows_max_over_median": "ratio"}
    for k in ("encode", "decode", "verify", "arrow_handoff"):
        u[f"compress.{k}_s"] = "s"
    u["compress.ratio"] = "ratio"
    u["compress.roundtrip_mismatches"] = "count"
    for sec in ("", ".dod", ".xor", ".for", ".ids"):
        u[f"codec{sec}.encode_MBps"] = "MB/s"
        u[f"codec{sec}.decode_MBps"] = "MB/s"
        if sec:
            u[f"codec{sec}.ratio"] = "ratio"
    u["codec.decode_mismatches"] = "count"
    for k in ("base_1m", "cascade_1h", "cascade_1d"):
        u[f"rollup.{k}_s"] = "s"
    for k in ("write_snapshot", "overwrite_partitions", "read"):
        u[f"tables.{k}_s"] = "s"
    u["tables.bytes_written_mb"] = "MB"
    u["tables.files_written"] = "count"
    u["lineage.append_s"] = "s"
    from perfbench.workloads import LAYERS, PHASE_LAYER, ROUTER_FREQS

    for phase in PHASE_LAYER:
        u[f"runner.phase.{phase}_s"] = "s"
    u["runner.self_s"] = "s"
    for k in ("jobs", "stages", "tasks"):
        u[f"spark.{k}"] = "count"
    for k in ("executor_run", "executor_cpu", "gc"):
        u[f"spark.{k}_s"] = "s"
    for k in ("shuffle_read", "shuffle_write", "input", "output", "spill"):
        u[f"spark.{k}_mb"] = "MB"
    u["spark.task_max_over_median"] = "ratio"
    u["spark.input_mb_per_written_mb"] = "ratio"
    for layer in LAYERS:
        u[f"spark.run_s.{layer}"] = "s"
    for k in ("drain_1m", "cascade_1h", "cascade_1d"):
        u[f"stream.{k}_s"] = "s"
    for k in ("add_batch", "query_planning", "wal_commit"):
        u[f"stream.{k}_ms"] = "ms"
    for k in ("parity_mismatches", "batches", "state_rows"):
        u[f"stream.{k}"] = "count"
    u["stream.state_mb"] = "MB"
    for f in ROUTER_FREQS:
        u[f"router.latency_ms.{f}"] = "ms"
    for t in ("1m", "1h", "1d"):
        u[f"router.tier_hits.{t}"] = "count"
    u["serve.query_p50_ms"] = "ms"
    u["serve.queries"] = "count"
    for k in ("aggregate", "regularize", "fill", "rolling_window", "date_slice", "chain"):
        u[f"operators.{k}_ms"] = "ms"
    u["incremental.refresh_s"] = "s"
    u["incremental.days_touched"] = "count"
    u["incremental.router_check_mismatches"] = "count"
    u["host.memcpy_GBps_before"] = "GB/s"
    u["host.memcpy_GBps_after"] = "GB/s"
    u["trace.self_sum_s"] = "s"
    u["trace.untraced_wall_s"] = "s"
    u["trace.reconcile_ratio"] = "ratio"
    u["trace.overhead_pct"] = "%"
    return u


class Run:
    def __init__(self, spark, workload, tracer, probes):
        self.spark, self.wl = spark, workload
        self.tracer, self.probes = tracer, probes
        self.attempted = self.failed = 0
        self.log: list[dict] = []

    def iteration(self, kind: str) -> dict | None:
        """One reset + timed iteration + check (skipped for the discarded
        warm-up). Returns None on failure."""
        self.wl.reset()
        cpu0 = self.probes.tree_cpu_s(os.getpid())
        t0 = time.time()
        try:
            out = self.wl.iterate(self.tracer)
            out["window"] = (t0, time.time())
            out["cpu_s"] = self.probes.tree_cpu_s(os.getpid()) - cpu0
            errors = [] if kind == "warmup" else self.wl.check(out)
        except Exception:  # a raising iteration is a failed operation
            errors = [traceback.format_exc()]
            out = None
        self.record(kind, errors, out and out["wall_s"], out and out["cpu_s"])
        return None if errors else out

    def record(self, kind: str, errors: list[str], wall_s=None, cpu_s=None) -> None:
        """Count one attempted operation; any error makes it failed."""
        self.attempted += 1
        self.log.append({"kind": kind, "wall_s": wall_s, "cpu_s": cpu_s, "errors": errors})
        if errors:
            self.failed += 1
            print(f"[perfbench] {kind} failed: {errors}", file=sys.stderr)

    def timed_loop(self, seconds: float) -> list[dict]:
        outs: list[dict] = []
        t_end = time.monotonic() + max(4 * seconds, 60)  # bound a failing loop
        while (sum(o["wall_s"] for o in outs) < seconds or len(outs) < MIN_ITERS) and (
            time.monotonic() < t_end
        ):
            out = self.iteration("timed")
            if out is not None:
                outs.append(out)
        return outs


def stage_metrics(stages: list[dict], tracer, since: int, n_iter: int) -> dict:
    from perfbench.workloads import LAYERS, PHASE_LAYER, SPAN_LAYER

    m = {}
    per = lambda k: sum(s[k] for s in stages) / n_iter  # noqa: E731
    m["spark.stages"] = len(stages) / n_iter
    m["spark.tasks"] = per("tasks")
    m["spark.executor_run_s"] = per("run_s")
    m["spark.executor_cpu_s"] = per("cpu_s")
    m["spark.gc_s"] = per("gc_s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "input_mb", "output_mb", "spill_mb"):
        m[f"spark.{k}"] = per(k)
    multi = [s for s in stages if s["tasks"] >= 2 and s["task_median_s"] > 0]
    if multi:
        top = max(multi, key=lambda s: s["run_s"])
        m["spark.task_max_over_median"] = top["task_max_s"] / top["task_median_s"]
    written = m["spark.output_mb"] + m["spark.shuffle_write_mb"]
    read = m["spark.input_mb"] + m["spark.shuffle_read_mb"]
    m["spark.input_mb_per_written_mb"] = read / written if written else 0.0
    by_layer = dict.fromkeys(LAYERS, 0.0)
    for s in stages:
        sp = tracer.innermost(s["submitted"], since) if s["submitted"] else None
        if sp is None:
            continue
        name = sp["name"]
        if name.startswith("runner.phase."):
            layer = PHASE_LAYER.get(name[len("runner.phase."):])
        else:
            layer = SPAN_LAYER.get(name.split(".")[0])
        if layer:
            by_layer[layer] += s["run_s"] / n_iter
    for layer, v in by_layer.items():
        m[f"spark.run_s.{layer}"] = v
    return m


def traced_metrics(run: Run, probes, codec_kernel, seed) -> dict:
    """Per-layer metrics. Untraced and traced iterations alternate, so
    both sample the same point of the JIT warm-up curve; the untraced
    ones give the wall time the layer self-times must add up to."""
    from perfbench.tracing import StageLog

    tracer, wl = run.tracer, run.wl
    stages = StageLog(run.spark)
    ids = stages.last_ids()
    since = tracer.mark()
    untraced, traced = [], []
    for _ in range(TRACED_ITERS):
        out = run.iteration("untraced")
        if out:
            untraced.append(out)
        tracer.enabled = True
        out = run.iteration("traced")
        tracer.enabled = False
        if out:
            traced.append(out)
    if not traced or not untraced:
        raise RuntimeError("every traced or every untraced iteration failed")
    job_times, stage_list = stages.since(ids)
    inside = lambda t: t is not None and any(  # noqa: E731
        o["window"][0] <= t <= o["window"][1] for o in traced)
    m = stage_metrics([s for s in stage_list if inside(s["submitted"])], tracer, since,
                      len(traced))
    m["spark.jobs"] = sum(map(inside, job_times)) / len(traced)

    self_times = tracer.self_times(since)
    untraced_wall = statistics.median(o["wall_s"] for o in untraced)
    m["trace.self_sum_s"] = sum(self_times.values()) / len(traced)
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.reconcile_ratio"] = m["trace.self_sum_s"] / untraced_wall
    m["trace.overhead_pct"] = 100 * (
        statistics.median(o["wall_s"] for o in traced) / untraced_wall - 1)
    m["runner.self_s"] = self_times.get("runner.run_pipeline", 0.0) / len(traced)
    if abs(m["trace.reconcile_ratio"] - 1) > 0.10:
        print(f"[perfbench] layer self-times sum to {m['trace.reconcile_ratio']:.3f} of "
              "the untraced wall time (outside 10%)", file=sys.stderr)

    m.update(wl.layer_metrics(traced, lambda errors: run.record("probe", errors)))
    cells = codec_kernel.make_cells(seed, 32, 2000)
    codec, bad = codec_kernel.measure(cells, reps=5)
    m.update(codec)
    m["codec.decode_mismatches"] = bad
    run.record("codec", [f"{bad} decodes were not bit-exact"] if bad else [])
    return m


def stop_tree(spark, probes) -> None:
    """Stop Spark, end the Spark JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while True:
        rest = [p for p in probes.process_tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for p in rest:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one warm-up")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import tstoolbox_spark  # noqa: F401
        from perfbench import codec_kernel, probes
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS
        from tstoolbox_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # SIGTERM unwinds through the cleanup below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    cpus = probes.host_cpus()
    ram = probes.physical_ram_bytes()
    # half of physical memory, at most 4g: the package's 48g default
    # cannot map a heap on small hosts, and the inputs here are small
    heap = f"{max(1, min(4, int(ram / 2**30 / 2)))}g"
    memcpy_before = probes.memcpy_gbps()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}", parallelism=cpus, driver_memory=heap,
            extra_conf={
                "spark.local.dir": os.path.join(work, "local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.defaultJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t
        tracer = Tracer(enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.smoke)
        gen = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.build_inputs()
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen) + prepare_s

        run = Run(spark, wl, tracer, probes)
        for _ in range(wl.warmup):
            run.iteration("warmup")
        if args.trace:
            units = _per_layer_units()
            metrics = dict.fromkeys(units, 0.0)
            metrics["session.start_s"] = session_s
            metrics["datagen.gen_s"] = statistics.median(gen)
            metrics.update(traced_metrics(run, probes, codec_kernel, args.seed))
            metrics["host.memcpy_GBps_before"] = memcpy_before
            metrics["host.memcpy_GBps_after"] = probes.memcpy_gbps()
            unknown = set(metrics) - set(units)
            if unknown:
                raise RuntimeError(f"metrics without a unit: {sorted(unknown)}")
        else:
            probes.reset_peak_rss(os.getpid())
            outs = run.timed_loop(args.seconds)
            if not outs:
                raise RuntimeError("no timed iteration succeeded")
            units = END_TO_END
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(o["wall_s"] for o in outs),
                "cpu_s": statistics.median(o["cpu_s"] for o in outs),
                "peak_rss_mb": probes.tree_peak_rss_mb(os.getpid()),
                "seq_per_s": wl.items_per_s(outs),
            }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "smoke": args.smoke, "seconds": args.seconds,
            "host": {"nproc": cpus, "ram_gb": ram / 2**30, "heap": heap,
                     "memcpy_GBps_before": memcpy_before},
            "session": dict(spark.sparkContext.getConf().getAll()),
            "setup": {"session_s": session_s, "gen_s": gen, "prepare_s": prepare_s},
            "iterations": run.log,
        }
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces",
                                     f"{args.workload}-seed{args.seed}.json"),
                        {"detail": detail})
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_tree(spark, probes)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

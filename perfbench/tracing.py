"""In-memory spans around the benchmark's calls into the program, and
Spark status-store stage metrics attributed to those spans.

Spans are recorded only when tracing is on and are written out once,
when the benchmark ends. A span's self time is its duration minus the
part covered by its children.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def add_children(self, parent: dict | None, parts: list[tuple[str, float]]) -> None:
        """Lay out consecutive child spans inside ``parent`` from
        durations the program reported itself (run_pipeline's phases)."""
        if parent is None:
            return
        t = parent["t0"]
        for name, dur in parts:
            self.spans.append(
                {"id": len(self.spans), "parent": parent["id"], "name": name,
                 "t0": t, "t1": min(t + dur, parent["t1"])}
            )
            t += dur

    def mark(self) -> int:
        return len(self.spans)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Self time per span name, over spans recorded after ``since``."""
        spans = self.spans[since:]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["t1"] - s["t0"] - child[s["id"]]
        return out

    def innermost(self, t: float, since: int = 0) -> dict | None:
        """The deepest span recorded after ``since`` that was open at ``t``."""
        best = None
        for s in self.spans[since:]:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


class StageLog:
    """Reads completed stages and jobs from the Spark status store (it
    works with the UI disabled)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()

    def _empty(self):
        return self._jvm.java.util.ArrayList()

    def last_ids(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far, -1 if none."""
        jobs = self._store.jobsList(self._empty())
        stages = self._store.stageList(
            self._empty(), False, False, self._gw.new_array(self._jvm.double, 0), self._empty()
        )
        job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        stage = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)
        return job, stage

    def since(self, ids: tuple[int, int]) -> tuple[list[float], list[dict]]:
        """Submission times of the jobs, and the completed stages, that
        came after ``ids`` from last_ids."""
        jobs = self._store.jobsList(self._empty())
        job_times = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > ids[0] and j.submissionTime().isDefined():
                job_times.append(j.submissionTime().get().getTime() / 1000)
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        stages = self._store.stageList(self._empty(), False, True, q, self._empty())
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= ids[1] or str(s.status()) != "COMPLETE":
                continue
            dist = s.taskMetricsDistributions()
            run_q = dist.get().executorRunTime() if dist.isDefined() else None
            sub = s.submissionTime()
            out.append({
                "id": s.stageId(),
                "name": s.name(),
                "submitted": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_mb": s.inputBytes() / 2**20,
                "output_mb": s.outputBytes() / 2**20,
                "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
                "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                "spill_mb": s.diskBytesSpilled() / 2**20,
                "task_median_s": run_q.apply(0) / 1e3 if run_q is not None else 0.0,
                "task_max_s": run_q.apply(1) / 1e3 if run_q is not None else 0.0,
            })
        return job_times, out

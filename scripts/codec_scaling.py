#!/usr/bin/env python
"""Engine-compute scaling control: the Gorilla bucket codec alone.

Full-pipeline scaling runs measure Spark jobs whose kernel-heavy components
(Arrow IPC sockets, shuffle IO, JVM memory management) serialize
inside this Firecracker sandbox regardless of engine design. This
control isolates what the engine itself contributes: the per-cell
encode→decode compute, run as N independent OS processes on disjoint
in-memory cells — exactly the work an executor core performs, with no
VM-pathology in the loop.

Protocol: build W realistic cells (Zipf-ish n_tok, monotone ts,
token arrays), encode+decode each K times under a process pool of
size N and 4N; efficiency = (cells/s at 4N) / (4 · cells/s at N).

Usage: python scripts/codec_scaling.py [n_level] [cells] [rows_per_cell]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def _make_cell(seed: int, rows: int):
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(1_700_000_000_000_000, 1_700_100_000_000_000, rows))
    n_tok = (rng.pareto(2.5, rows) * 120 + 16).astype(np.int64)
    tokens = rng.integers(0, 50_000, int(n_tok.sum()), dtype=np.int64)
    lens = np.full(rows, 24, dtype=np.uint64)
    blob = b"x" * int(lens.sum())
    return ts.astype(np.int64), n_tok, tokens, (lens, blob)


def _work(args):
    seed, rows = args
    from tstoolbox_spark.codec.gorilla import decode_bucket, encode_bucket

    ts, n_tok, tokens, ids = _make_cell(seed, rows)
    buf = encode_bucket(ts, n_tok, tokens, ids)
    ts2, n2, t2, _ = decode_bucket(buf, raw_ids=True)
    assert np.array_equal(t2, tokens) and np.array_equal(ts2, ts)
    return len(buf)


def measure(procs: int, cells: int, rows: int) -> float:
    jobs = [(i, rows) for i in range(cells)]
    with mp.Pool(procs) as pool:
        pool.map(_work, jobs[:procs])  # warm imports
        t0 = time.time()
        pool.map(_work, jobs)
        dt = time.time() - t0
    return cells / dt


def main() -> None:
    n_level = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    cells = int(sys.argv[2]) if len(sys.argv) > 2 else 192
    rows = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000
    thr_n = measure(n_level, cells, rows)
    thr_4n = measure(n_level * 4, cells, rows)
    out = {
        "cells": cells,
        "rows_per_cell": rows,
        "levels": [n_level, n_level * 4],
        "cells_per_s_N": round(thr_n, 2),
        "cells_per_s_4N": round(thr_4n, 2),
        "efficiency": round(thr_4n / thr_n / 4.0, 3),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Host-side probes read from outside the program: process-tree CPU
and peak RSS from /proc, a memcpy bandwidth probe, and the host facts
every result records."""

from __future__ import annotations

import os
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the Spark JVM, the PySpark
    daemon and its Python workers all descend from the benchmark)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children
    (a worker that exits is folded into its parent's cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(root: int) -> None:
    """Restart every tree process's peak-RSS mark from its current RSS."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the tree processes' peak RSS since ``reset_peak_rss``, as
    the kernel tracked it (no sampling)."""
    return sum(_vm_hwm_kb(pid) for pid in process_tree(root)) / 1024


def memcpy_gbps(mb: int = 64, reps: int = 5) -> float:
    """Median single-core copy bandwidth; recorded to explain outliers,
    never gated."""
    src = np.random.default_rng(0).random(mb * 2**20 // 8)
    dst = np.empty_like(src)
    np.copyto(dst, src)
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        times.append(time.perf_counter() - t)
    return mb / 1024 / sorted(times)[len(times) // 2]


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))

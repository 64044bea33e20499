"""SparkSession factory.

Single place that owns the engine's Spark configuration so tests, the
bench harness and ``spark-submit`` jobs all run with the same tuning.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime partition coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` defaults to the session parallelism
  locally; on a real cluster AQE coalesces from a high initial number,
  so jobs pass an explicit larger value via ``shuffle_partitions``.
- Arrow enabled for every pandas-UDF boundary (the codec and the few
  scipy-backed fills are the only Python stages; everything else stays
  in whole-stage codegen).
- Session timezone pinned to UTC: the oracle (DuckDB) is UTC-naive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _parse_gb(mem: str) -> int:
    """'48g' → 48, '8192m' → 8, unparseable → 0."""
    m = mem.strip().lower()
    try:
        if m.endswith("g"):
            return int(m[:-1])
        if m.endswith("m"):
            return int(m[:-1]) // 1024
        return int(m) // (1 << 30)
    except ValueError:
        return 0


def _physical_bytes() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return None


def default_driver_memory() -> str:
    """Half of physical memory (at least 1g): a fixed default heap
    cannot map on every host, and the other half is left for the
    off-heap pool, the Python workers and the page cache."""
    phys = _physical_bytes()
    return f"{max(phys // (2 << 30), 1)}g" if phys else "2g"


def get_spark(
    app_name: str = "tstoolbox_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Parameters
    ----------
    parallelism:
        local[N] thread count. Defaults to ``$SPARK_GRAFT_CPUS`` or all
        cores. Ignored when a master is already configured (cluster
        submit via spark-submit sets ``spark.master`` itself).
    shuffle_partitions:
        Post-shuffle partition count; defaults to parallelism (local
        mode). Cluster jobs should pass ~2-3x total cores and let AQE
        coalesce.
    driver_memory:
        Driver heap; defaults to :func:`default_driver_memory`.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = parallelism

    # -Xms scaled from a requested heap (a hard-coded 8g floor fails
    # JVM startup for any driver_memory < 8g: Xms > Xmx); pre-touching
    # half the heap keeps the ParallelGC young gen from growing in
    # increments without constraining small test sessions. The derived
    # default keeps -Xms at 1g, so an entry point that never asked for
    # a big heap does not commit half the host's memory up front.
    if driver_memory is None:
        driver_memory, xms = default_driver_memory(), "-Xms1g"
    else:
        heap_gb = _parse_gb(driver_memory)
        xms = f"-Xms{max(heap_gb // 2, 1)}g" if heap_gb else ""
    # Off-heap Tungsten default: a quarter of physical memory, capped
    # at 16g (the measured sweet spot on the 128 GiB dev box) — not a
    # fixed 16g, which would over-commit smaller hosts.
    phys = _physical_bytes()
    offheap_default = f"{max(min(phys // (4 << 30), 16), 1)}g" if phys else "2g"

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory)
        # Throughput GC: G1's concurrent refinement + region madvise
        # churn costs ~2x wall on this batch workload (measured on the
        # codec stage: 12.7s → 5.7s at local[8]); parallel full GCs are
        # the right trade for a non-interactive pipeline.
        .config("spark.driver.extraJavaOptions", f"-XX:+UseParallelGC {xms}".strip())
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # Task threads contend on UnifiedMemoryManager.acquireExecutionMemory
        # (a synchronized notifyAll herd — /proc syscall sampling showed
        # futex dominating sys time at local[32]). Bigger Tungsten pages
        # = fewer acquisitions (codec stage 29s → 15s at local[32]);
        # off-heap moves them out of the GC heap; 1m shuffle buffers cut
        # write syscalls.
        .config("spark.buffer.pageSize", "64m")
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.unsafe.file.output.buffer", "1m")
        .config("spark.memory.offHeap.enabled", "true")
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_GRAFT_OFFHEAP", offheap_default),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # NOTE: tmpfs (/dev/shm) for spark.local.dir was tried and is a
        # trap on this box: shuffle spill pages become unevictable,
        # push the input out of page cache, and scans re-read from disk
        # at 10x cost. Plain /tmp (ext4, writeback) behaves better.
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCALDIR", "/tmp"))
    )
    # Only force a master when none was provided externally (spark-submit
    # on a cluster sets it; local tests get local[N]).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT" not in os.environ:
        builder = builder.master(f"local[{parallelism}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

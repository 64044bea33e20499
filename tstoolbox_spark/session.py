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

Fork-free local filesystem (only when ``get_spark`` sets the
``local[N]`` master itself; a cluster keeps its own filesystem):
- The Hadoop 3.4.2 that pyspark bundles has no native library, so
  ``RawLocalFileSystem.setPermission`` forks ``chmod`` for every file
  and directory a table write or a streaming checkpoint creates (~200
  child processes for one 30-partition write). ``fs.file.impl`` is
  ``tstoolbox.NioLocalFileSystem`` (``jvm/NioLocalFileSystem.java``):
  still a checksummed ``LocalFileSystem`` (``.crc`` sidecars, verified
  reads), whose raw layer sets the same modes through ``java.nio``.
- Streaming checkpoints (offsets, commits, state deltas, sink logs)
  would still go through FileContext's ``LocalFs``, which is hard-wired
  to ``RawLocalFileSystem`` and forks ``readlink`` on every rename, so
  the checkpoint manager is the ``FileSystem``-based one, which reaches
  the class above. Checkpoints written by either manager resume under
  the other: the files are the same.
- ``-XX:GCTimeRatio=19`` (5% of time in GC, not ParallelGC's 1%): with
  the forks gone, the faster loop made ParallelGC grow the heap, and
  ``stream_rollup``'s peak RSS rose up to 24% while the live heap after
  a full GC stayed flat; with the ratio it falls below where it was.
- The class is compiled by ``javac`` once per host into
  ``${XDG_CACHE_HOME:-~/.cache}/tstoolbox_spark/``, keyed by the source
  and the Hadoop jar (~1.2 s when cold). Without ``javac``, or when the
  compile fails, one warning is logged and Hadoop's default filesystem
  and checkpoint manager stay.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

#: the fork-free local filesystem's source (see the module docstring)
NIO_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")
NIO_CLASS = "tstoolbox.NioLocalFileSystem"
FS_CHECKPOINTS = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


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


def nio_classpath() -> str | None:
    """The directory holding the compiled :data:`NIO_CLASS`, compiling
    it on a cold cache; None (after one warning) when ``javac`` is
    missing or the compile fails. The compile lands in a temp sibling
    renamed into place, so sessions starting together never see half a
    class directory. Never under ``TMPDIR``: callers wipe that."""
    from pyspark.find_spark_home import _find_spark_home

    log = logging.getLogger(__name__)
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    javac = shutil.which("javac")
    if not jars or not javac:
        log.warning("no javac or Hadoop jar: the local filesystem forks chmod per file")
        return None
    with open(NIO_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(jars[-1]).encode()).hexdigest()[:16]
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "tstoolbox_spark")
    out = os.path.join(root, f"nio-{key}")
    built = os.path.join(out, *NIO_CLASS.split(".")) + ".class"
    if os.path.exists(built):
        return out
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".nio-{key}-", dir=root)
    except OSError as e:
        log.warning("cannot cache the fork-free filesystem class: %s", e)
        return None
    try:
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", jars[-1], "-d", tmp, NIO_SOURCE],
            check=True, capture_output=True, timeout=300,
        )
        os.rename(tmp, out)
    except (OSError, subprocess.SubprocessError) as e:
        if not os.path.exists(built):  # not a lost rename race
            log.warning("javac failed, the local filesystem forks chmod per file: %s",
                        getattr(e, "stderr", None) or e)
            return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


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
    # Only force a master when none was provided externally (spark-submit
    # on a cluster sets it; local tests get local[N]).
    local = not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT" not in os.environ
    gc = "-XX:+UseParallelGC -XX:GCTimeRatio=19" if local else "-XX:+UseParallelGC"

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
        .config("spark.driver.extraJavaOptions", f"{gc} {xms}".strip())
        .config("spark.executor.extraJavaOptions", gc)
        # Task threads contend on UnifiedMemoryManager.acquireExecutionMemory
        # (a synchronized notifyAll herd — /proc syscall sampling showed
        # futex dominating sys time at local[32]). Bigger Tungsten pages
        # = fewer acquisitions (codec stage 29s → 15s at local[32]);
        # off-heap moves them out of the GC heap; 1m shuffle buffers cut
        # write syscalls.
        .config("spark.buffer.pageSize", "64m")
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.localDisk.file.output.buffer", "1m")
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
    if local:
        builder = builder.master(f"local[{parallelism}]")
        classes = nio_classpath()
        if classes:
            builder = (
                builder.config("spark.driver.extraClassPath", classes)
                .config("spark.hadoop.fs.file.impl", NIO_CLASS)
                .config("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINTS)
            )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

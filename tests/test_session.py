"""The session's fork-free local filesystem.

Without Hadoop's native library, ``RawLocalFileSystem.setPermission``
forks ``chmod`` for every file and directory it creates. The session
swaps in ``tstoolbox.NioLocalFileSystem``: the same checksummed
``LocalFileSystem`` (``.crc`` sidecars, verified reads) whose raw layer
sets permissions through ``java.nio``, with the same resulting modes.
"""

from __future__ import annotations

import os
import shutil
import stat
import threading

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark import session
from tstoolbox_spark.tables import ParquetSnapshotCatalog

pytestmark = pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac")


def _fs(spark, stock=False):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI.create("file:///")
    if not stock:
        return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(uri, conf)
    return fs


def _last_pid() -> int:
    with open("/proc/loadavg") as f:
        return int(f.read().split()[-1])


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_session_uses_the_fork_free_filesystem(spark):
    assert _fs(spark).getClass().getName() == session.NIO_CLASS
    assert _fs(spark).getRaw().getClass().getName() == f"{session.NIO_CLASS}$Raw"
    assert (spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
            == session.FS_CHECKPOINTS)


def test_shuffle_output_buffer_uses_the_current_key(spark):
    """The 1 MiB shuffle output buffer is set under its Spark 4 name;
    the pre-4.0 name logs a deprecation warning on every conf copy."""
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf["spark.shuffle.localDisk.file.output.buffer"] == "1m"
    assert "spark.shuffle.unsafe.file.output.buffer" not in conf


def test_modes_match_the_stock_filesystem(spark, tmp_path):
    """Files and directories get the modes ``chmod`` gives them under
    Hadoop's stock filesystem (0644 and 0755 under umask 022), and an
    explicit ``setPermission`` lands the same bits, sticky included."""
    jvm = spark._jvm
    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = FsPermission.getUMask(spark.sparkContext._jsc.hadoopConfiguration())
    modes = {}
    for name, fs in (("nio", _fs(spark)), ("stock", _fs(spark, stock=True))):
        root = tmp_path / name
        out = fs.create(Path(str(root / "f.bin")))
        out.write(bytearray(b"x" * 10))
        out.close()
        fs.mkdirs(Path(str(root / "d")), FsPermission.getDirDefault().applyUMask(umask))
        got = [_mode(root / "f.bin"), _mode(root / "d")]
        for i, m in enumerate((0o600, 0o750, 0o1777)):
            p = root / f"s{i}"
            p.mkdir(mode=0o700)
            fs.setPermission(Path(str(p)), FsPermission(m))
            got.append(_mode(p))
        modes[name] = got
    assert modes["nio"] == modes["stock"]
    if umask.toShort() == 0o022:
        assert modes["nio"][:2] == [0o644, 0o755]
    assert modes["nio"][2:] == [0o600, 0o750, 0o1777]


def test_checksums_are_still_written_and_verified(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.range(2000).select(F.col("id").cast("string")).coalesce(1).write.text(out)
    (part,) = [f for f in os.listdir(out) if f.startswith("part-")]
    assert os.path.exists(os.path.join(out, f".{part}.crc"))
    path = os.path.join(out, part)
    with open(path, "r+b") as f:
        f.seek(os.path.getsize(path) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(b"7" if b != b"7" else b"8")
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.text(out).collect()


def test_partitioned_snapshot_write_forks_nothing(spark, tmp_path):
    """A 30-day partitioned snapshot write allocates < 10 PIDs (threads
    included); with the stock filesystem it allocates ~200, one
    ``chmod`` per file and directory."""
    df = (spark.range(30_000)
          .withColumn("day", F.expr("date_add(date'2024-01-01', cast(id % 30 as int))"))
          .repartition(4, "day").persist())
    df.count()
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    try:
        cat.write_snapshot(df, "warm", partition_by=["day"])
        pids = []
        for i in range(3):
            before = _last_pid()
            cat.write_snapshot(df, f"t{i}", partition_by=["day"])
            pids.append(_last_pid() - before)
    finally:
        df.unpersist()
    assert len(os.listdir(cat.current_snapshot("t0")["path"])) >= 30
    assert sorted(pids)[1] < 10, pids


def test_compile_is_cached_and_race_free(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    got = []
    threads = [threading.Thread(target=lambda: got.append(session.nio_classpath()))
               for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert got[0] == got[1] and got[0].startswith(str(tmp_path))
    assert os.path.exists(os.path.join(got[0], "tstoolbox", "NioLocalFileSystem.class"))
    assert os.listdir(os.path.dirname(got[0])) == [os.path.basename(got[0])]
    assert session.nio_classpath() == got[0]


def test_no_javac_falls_back_without_raising(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("PATH", str(tmp_path))
    assert session.nio_classpath() is None

"""Table layer: snapshot-versioned parquet tables.

The engine's design target is Iceberg (`BASELINE.json` north_rule) —
tiered tables partitioned by days(ts), snapshot commits, TTL via
metadata-only partition drops, resume from snapshot checkpoints. This
sandbox has no Iceberg runtime jar (offline), so the same contract is
implemented over partitioned parquet + an atomically-swapped JSON
manifest. The API is a drop-in: on a cluster with Iceberg configured,
``IcebergCatalog`` (same surface) maps write_snapshot →
``writeTo(...).overwritePartitions()``, expire → ``expire_snapshots``,
drop_before → partition DELETE. Divergence documented here, nowhere
else — pipeline code only sees this module.

Manifest layout per table dir::

    <root>/<table>/manifest.json     {"snapshots": [...], "current": id}
    <root>/<table>/snap-<id>/        parquet data (one dir per data write)
    <root>/<table>/.commit-lock/     the commit lease (owner.json inside)
    <root>/.pending-group-<id>.json  write-ahead intent of an open commit

Every snapshot record has ONE shape, as in Iceberg, where a snapshot is
a list of data-file references::

    {"id", "ts", "path", "refs": [{"basePath", "paths"}, ...],
     "partition_by", "properties", "schema", "fields",
     "renames", "added"}

``refs`` lists what the snapshot reads: each group is a base directory
plus either ``paths: null`` (the whole directory) or the partition
directories kept from it. ``path`` is the data directory the snapshot
owns (reclaimed when it expires), or null for a metadata-only snapshot.
``stage`` yields one whole-directory group; when it replaces a list
of partitions, the current snapshot's untouched groups plus the new
directory's; when it appends, the current snapshot's groups plus the
new directory (Iceberg's ``appendFiles``: nothing committed is read or
rewritten). A TTL drop keeps the retained groups; schema evolution
reuses the current ``refs`` and records ``renames``/``added``, which
reads apply. When no group is left, reads rebuild the empty frame from
``schema``. The whole-directory groups of an unpartitioned snapshot
are read with ``schema`` in one scan (no footer inference).

Manifests written before this shape have ``path`` and no ``refs`` (or
``basePath``/``paths`` on metadata-only records); ``_normalize`` maps
them on read, so they read, time-travel and expire unchanged.

Commits are atomic and two-phase: ``stage`` lands data in a new snap
dir, unreferenced, so a caller can check it first; then ``publish``
takes the table leases in sorted order, validates every expected base
snapshot, and replaces each manifest via os.replace (POSIX atomic
rename), so readers always see a complete snapshot and a killed writer
leaves the previous snapshot current — the property the resume test
(§5.3.4) relies on. ``write_snapshot`` and ``overwrite_partitions`` are
one ``stage`` + one ``publish``; a caller that stages several tables
(the pipeline's tier fold, a dedup batch, a curation stage with its
lineage row) publishes them as one group, each validated against the
snapshot it was staged on, so two appends staged on one base cannot
both land. A lease whose owner died on this host is broken by the next
committer; the staged dirs and lease debris a dead writer leaves are
reclaimed by ``expire_snapshots`` once old.

Interop contract — what this catalog IS and IS NOT (VERDICT r3 #8):

GUARANTEED (semantically equivalent to Iceberg, tested here):
  * snapshot isolation + time travel (read(snapshot_id=...))
  * atomic commits; optimistic concurrency (CommitConflict on a
    stale base snapshot), multi-table commit groups
  * TTL retention via metadata-only partition drops
    (drop_partitions_before), snapshot expiry (expire_snapshots)
  * metadata-only schema evolution (rename_column / add_column with
    stable field ids), partition compaction (compact_partitions)
  * crash recovery: recover_pending() finishes or rolls back
    half-committed group writes

NOT PROVIDED (real-Iceberg features that need the table FORMAT):
  * format interop: Trino/Flink/Snowflake/DuckDB-iceberg CANNOT read
    this warehouse as Iceberg — there are no Avro manifests, no
    metadata.json chain, no ORC/format-version negotiation. External
    engines can still read each ``snap-<id>/`` directory as plain
    parquet, but they see directories, not a versioned table.
  * per-file column stats / manifest-level min-max pruning (scan
    pruning here is directory/partition-level plus parquet row-group
    stats), positional/equality delete files (we rewrite partitions
    instead), hidden-partitioning transforms beyond days(ts), and
    catalog services (REST/Hive/Glue).

Porting to real Iceberg is mechanical and confined to this module:
stage + publish → a (multi-table) transaction of appendFiles /
overwritePartitions, read(snapshot_id) → VERSION AS OF,
drop_partitions_before → DELETE WHERE, expire_snapshots →
expireSnapshots + remove_orphan_files; every caller (the pipeline's
runner and tier fold, retention, lineage) goes through this surface
and nowhere touches the layout.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import socket
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


#: sentinel: "no concurrency expectation" (None means "expect empty")
_UNSET = object()

#: every snapshot record's keys, with the values a new table starts from
_BLANK = {
    "id": None,
    "ts": None,
    "path": None,
    "refs": [],
    "partition_by": [],
    "properties": {},
    "schema": None,
    "fields": {},
    "renames": [],
    "added": {},
}


#: seconds a dead writer's staged dir or lease debris must sit unchanged
#: before expire_snapshots reclaims it: far beyond any live writer's
#: stage-to-publish gap (Iceberg's remove_orphan_files waits 3 days)
ORPHAN_AGE_S = 24 * 3600


class CommitConflict(Exception):
    """Another writer committed since this writer's base snapshot —
    the optimistic-concurrency failure Iceberg surfaces as
    CommitFailedException. The caller re-reads and retries (or gives
    up); the losing writer's data directory is already cleaned up."""


def _normalize(snap: dict) -> dict:
    """Map any stored record onto the one snapshot shape. Records from
    before ``refs`` existed are a full snapshot (``path``) or a
    metadata-only child (``basePath`` + ``paths``); both become one
    group over that directory."""
    if "refs" not in snap:
        base = snap.get("basePath") or snap["path"]
        snap = dict(snap, refs=[{"basePath": base, "paths": snap.get("paths")}])
    return {k: snap.get(k, v) for k, v in _BLANK.items()}


#: snapshot properties a record minted from a base inherits unless it
#: sets them: the set of batches folded into a table must outlive the
#: records that applied them (``expire_snapshots``) and pass through
#: metadata-only children (TTL drops, compaction, schema changes)
CARRIED = ("batch_digests",)


def _record(base: dict, **changes) -> dict:
    """Mint a snapshot record: a fresh id and timestamp, ``base``'s
    refs, schema, fields, partitioning, evolution state and
    :data:`CARRIED` properties, then ``changes``. Owns no directory
    unless ``changes`` says so."""
    sid = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
    carried = {k: v for k, v in base["properties"].items() if k in CARRIED}
    props = {**carried, **changes.pop("properties", {})}
    return {**base, "id": sid, "ts": time.time(), "path": None, "properties": props, **changes}


def _types(schema: dict) -> dict[str, str]:
    """Column name → type, nullability aside (file scans read every
    column as nullable)."""
    return {f.name: f.dataType.simpleString() for f in StructType.fromJson(schema)}


def _filter_groups(refs: list[dict], partition_col: str, keep) -> list[dict]:
    """The ``refs`` groups restricted to partition directories whose
    value passes ``keep`` — the manifest-of-files view an overwrite or
    TTL drop filters. Whole-directory groups are listed (one directory
    listing, metadata-scale); emptied groups are left out. Values are
    the encoded directory strings."""
    prefix = f"{partition_col}="
    out = []
    for g in refs:
        base, paths = g["basePath"], g["paths"]
        if paths is None:
            paths = [
                os.path.join(base, d)
                for d in os.listdir(base)
                if d.startswith(prefix) and os.path.isdir(os.path.join(base, d))
            ]
        kept = sorted(p for p in paths if keep(os.path.basename(p.rstrip("/"))[len(prefix):]))
        if kept:
            out.append({"basePath": base, "paths": kept})
    return out


def _read_json(path: str, default=None):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def _write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)  # atomic commit point


def _newest_mtime(path: str) -> float:
    """The newest mtime of ``path`` and of everything under it (0 for
    what a concurrent sweep removed meanwhile)."""
    newest = 0.0
    for root, dirs, files in os.walk(path):
        for n in (".", *dirs, *files):
            with contextlib.suppress(FileNotFoundError):
                newest = max(newest, os.lstat(os.path.join(root, n)).st_mtime)
    return newest


def _proc_start(pid: int) -> str | None:
    """Start time of ``pid`` from /proc, or None when the process is
    gone, a zombie, or the host has no /proc. A recycled pid has a
    different start time, so (pid, start) names one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


class ParquetSnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ----------------------------------------------------------- manifest
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "manifest.json")

    def _read_manifest(self, table: str) -> dict:
        m = _read_json(self._manifest_path(table), {"snapshots": [], "current": None})
        m["snapshots"] = [_normalize(s) for s in m["snapshots"]]
        return m

    def _write_manifest(self, table: str, manifest: dict) -> None:
        os.makedirs(os.path.join(self.root, table), exist_ok=True)
        _write_json(self._manifest_path(table), manifest)

    # -------------------------------------------------------- commit lease
    def _lock_dir(self, table: str) -> str:
        return os.path.join(self.root, table, ".commit-lock")

    def _acquire_lock(self, table: str, timeout: float = 30.0) -> None:
        """Take the table's commit lease: rename a prepared directory
        holding ``owner.json`` (pid, host, /proc start time) onto
        ``.commit-lock``. The rename is atomic and fails while another
        lease exists, so exactly one committer holds it, and a lease
        never exists without its owner record. A lease whose owner on
        this host is gone is moved aside to ``.commit-lock.dead-<token>``
        — a name taken from the dead lease, so a second breaker racing
        on the same dead owner cannot move the new holder's lease. A
        lease held from another host is waited out. Iceberg gets the
        same effect from the catalog's atomic compare-and-swap."""
        lock = self._lock_dir(table)
        token = uuid.uuid4().hex
        mine = f"{lock}.{token}"
        os.makedirs(mine)
        pid, host = os.getpid(), socket.gethostname()
        with open(os.path.join(mine, "owner.json"), "w") as f:
            json.dump({"pid": pid, "host": host, "start": _proc_start(pid), "token": token}, f)
        deadline = time.monotonic() + timeout
        while True:
            try:
                os.rename(mine, lock)
                return
            except OSError:  # held: the lease directory is not empty
                owner = _read_json(os.path.join(lock, "owner.json"))
            if owner and owner["host"] == host and _proc_start(owner["pid"]) != owner["start"]:
                with contextlib.suppress(OSError):  # a racing breaker won
                    os.rename(lock, f"{lock}.dead-{owner['token']}")
            elif time.monotonic() < deadline:
                time.sleep(0.02)
            else:
                shutil.rmtree(mine, ignore_errors=True)
                raise TimeoutError(f"commit lock for {table!r} held too long (lease {owner})")

    def _release_lock(self, table: str) -> None:
        gone = f"{self._lock_dir(table)}.released-{uuid.uuid4().hex}"
        with contextlib.suppress(FileNotFoundError):
            os.rename(self._lock_dir(table), gone)
            shutil.rmtree(gone)

    @contextlib.contextmanager
    def _locked(self, tables):
        held: list[str] = []
        try:
            for t in sorted(set(tables)):  # one global order: no deadlock
                self._acquire_lock(t)
                held.append(t)
            yield
        finally:
            for t in reversed(held):
                self._release_lock(t)

    # ------------------------------------------------------------- commits
    def stage(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
        compression: str | None = None,
        replace: list[str] | None = None,
        append: bool = False,
    ) -> dict:
        """Phase 1 of a commit: land the data files in a new snap dir and
        return the snapshot record — durable but NOT yet referenced by
        any manifest (Iceberg's data-files-first discipline), so a
        caller can check the files before :meth:`publish` makes them
        visible, or delete ``record["path"]`` to drop them.

        ``compression`` overrides the session parquet codec — pass
        'uncompressed' for tables whose payload is already
        entropy-coded (the Gorilla blob table), where zstd burns CPU on
        every write AND every read for ~0 size gain.

        ``replace`` lists values of the one ``partition_by`` column:
        only those partitions are written (``df`` is filtered to them)
        and the record's ``refs`` are the current snapshot's other
        partitions, carried BY REFERENCE, plus the new directory's —
        Iceberg's ``overwritePartitions`` (zero rows of untouched data
        rewritten: at 100 TB an hourly late-data refresh rewrites ~1 day
        directory, not the tier). With no group left, the record keeps
        the current read schema (:meth:`_kept_schema`).

        ``append`` adds ``df``'s rows to the table: the record's
        ``refs`` are the current snapshot's groups plus the new
        directory, last — Iceberg's ``appendFiles`` (no committed row
        read or rewritten; the table keeps its ``partition_by``). The
        old groups are read with the recorded schema, so ``df``'s
        columns and types must match it: a mismatch raises ValueError
        before anything is written. Publish it against the snapshot it
        extends."""
        cur = self.current_snapshot(table) if append or replace is not None else None
        if replace is not None:
            (col,) = partition_by
            replace = sorted(set(replace))
            df = df.where(F.col(col).isin(replace))
            properties = {**(properties or {}), "overwrite_partitions": replace}
        schema = json.loads(df.schema.json())
        if append and cur:
            if cur["schema"] and _types(cur["schema"]) != _types(schema):
                raise ValueError(
                    f"append to {table!r}: columns {_types(schema)} differ from the "
                    f"table's {_types(cur['schema'])}"
                )
            partition_by = cur["partition_by"]
        snap = _record(
            cur or _BLANK,
            partition_by=partition_by or [],
            properties=properties or {},
            schema=schema,
            fields=self._assign_field_ids(table, df.columns),
        )
        snap["path"] = data_dir = os.path.join(self.root, table, f"snap-{snap['id']}")
        snap["refs"] = [{"basePath": data_dir, "paths": None}]
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if compression:
            writer = writer.option("compression", compression)
        writer.parquet(data_dir)
        if replace is not None:
            kept = _filter_groups(cur["refs"], col, lambda v: v not in replace) if cur else []
            snap["refs"] = kept + _filter_groups(snap["refs"], col, lambda v: True)
            snap["schema"] = self._kept_schema(df.sparkSession, table, snap["refs"], snap["schema"])
        elif append and cur:
            snap["refs"] = cur["refs"] + snap["refs"]
        return snap

    def publish(self, commits: list[tuple], intent: str | None = None) -> None:
        """Phase 2 of a commit, the one manifest swap. ``commits`` is
        [(table, snapshot, expected_current)]: ``expected_current`` is a
        snapshot id, None for "table must still be empty", or the
        internal no-expectation sentinel. Under every table's lease
        (taken in sorted order) a write-ahead intent file records the
        snapshots (unless replaying ``intent``), each expectation is
        checked before the first swap, and each snapshot is appended and
        made current — skipped if its id is already present, so a replay
        is idempotent. A conflict deletes the commit's data directories
        and intent and raises CommitConflict; a crash between swaps
        leaves the intent for :meth:`recover_pending`, which rolls the
        group forward. The intent lives and dies under the leases, so a
        replay that obtains them never races the live writer of its
        group: that writer has either finished (the intent is gone, and
        the replay does nothing) or died."""
        with self._locked(t for t, _, _ in commits):
            if intent is None:
                intent = os.path.join(self.root, f".pending-group-{uuid.uuid4().hex}.json")
                _write_json(intent, [{"table": t, "snap": s} for t, s, _ in commits])
            elif not os.path.exists(intent):
                return
            for t, snap, expected in commits:
                cur = self._read_manifest(t)["current"]
                if expected is not _UNSET and cur != expected:
                    for _, s, _ in commits:
                        if s["path"]:
                            shutil.rmtree(s["path"], ignore_errors=True)
                    os.remove(intent)
                    raise CommitConflict(
                        f"table {t!r}: current snapshot is {cur!r}, expected {expected!r}"
                    )
            for t, snap, _ in commits:
                m = self._read_manifest(t)
                if all(s["id"] != snap["id"] for s in m["snapshots"]):
                    m["snapshots"].append(snap)
                    m["current"] = snap["id"]
                    self._write_manifest(t, m)
            os.remove(intent)

    def write_snapshot(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        properties: dict | None = None,
        compression: str | None = None,
        expected_current: str | None | object = _UNSET,
        append: bool = False,
    ) -> str:
        """Write df as a new snapshot of ``table`` (:meth:`stage`, then
        :meth:`publish`); returns snapshot id. The snapshot becomes
        current only when the manifest swap lands.

        ``expected_current`` (a snapshot id, or None for "table must
        still be empty") opts into optimistic concurrency: the data
        write runs OUTSIDE the commit lock (as in Iceberg — data files
        first, metadata swap last), and the commit raises
        CommitConflict if another writer landed in between, deleting
        this writer's orphaned data directory. An ``append`` without
        one expects the snapshot it extends: a lost race must not drop
        the winner's rows.
        """
        if append and expected_current is _UNSET:
            expected_current = (self.current_snapshot(table) or {}).get("id")
        snap = self.stage(df, table, partition_by, properties, compression, append=append)
        self.publish([(table, snap, expected_current)])
        return snap["id"]

    def _assign_field_ids(self, table: str, names: list[str]) -> dict[str, int]:
        """Iceberg-style stable column ids: a name seen in the previous
        current snapshot keeps its id; new names get fresh ids. Renames
        preserve ids explicitly via rename_column."""
        cur = self.current_snapshot(table)
        prev = dict(cur["fields"]) if cur else {}
        next_id = max(prev.values(), default=0)
        out: dict[str, int] = {}
        for n in names:
            if n in prev:
                out[n] = prev[n]
            else:
                next_id += 1
                out[n] = next_id
        return out

    def recover_pending(self) -> int:
        """Roll FORWARD any crashed commits: for every intent file,
        idempotently re-apply the manifest entries that did not land,
        then drop the intent. Returns the number of intents found (a
        group whose live writer finished meanwhile counts, and is left
        alone). Safe beside live writers (see :meth:`publish`), so
        ``run_pipeline`` calls it on every start."""
        repaired = 0
        for entry in sorted(os.listdir(self.root)):
            if entry.startswith(".pending-group-") and entry.endswith(".json"):
                path = os.path.join(self.root, entry)
                group = _read_json(path)
                if group is None:  # its writer finished after the listing
                    continue
                self.publish([(i["table"], i["snap"], _UNSET) for i in group], path)
                repaired += 1
        return repaired

    # --------------------------------------------------- partition edits
    def _current(self, table: str, partition_col: str | None = None) -> dict:
        cur = self.current_snapshot(table)
        if cur is None:
            raise FileNotFoundError(table)
        if partition_col is not None and partition_col not in cur["partition_by"]:
            raise ValueError(
                f"{table!r} is not partitioned by {partition_col!r} "
                f"(partition_by={cur['partition_by']}); partition edits "
                "need it to be the partition column"
            )
        return cur

    def _commit_child(self, table: str, cur: dict, **changes) -> str:
        """Commit a metadata-only snapshot derived from ``cur``."""
        snap = _record(cur, **changes)
        self.publish([(table, snap, cur["id"])])
        return snap["id"]

    def _kept_schema(self, spark: SparkSession, table: str, refs: list[dict], schema: dict) -> dict:
        """``schema`` while ``refs`` keeps a group. When a partition
        edit leaves none, the current read schema instead (one footer
        read), so the empty table reads back with the columns and types
        it had, partition columns typed as read."""
        return schema if refs else json.loads(self.read(spark, table).schema.json())

    def overwrite_partitions(
        self,
        spark: SparkSession,
        df: DataFrame,
        table: str,
        partition_col: str,
        partitions: list[str],
    ) -> str:
        """Replace ONLY the named partitions of ``table`` with ``df``'s
        rows (:meth:`stage` with ``replace``, then :meth:`publish`),
        validated against the current snapshot (optimistic
        concurrency: a losing writer's data dir is cleaned up). Returns
        the new snapshot id."""
        cur = self._current(table, partition_col)
        snap = self.stage(df, table, [partition_col], replace=partitions)
        self.publish([(table, snap, cur["id"])])
        return snap["id"]

    def drop_partitions_before(
        self, spark: SparkSession, table: str, partition_col: str, cutoff: str
    ) -> str:
        """TTL retention: drop whole partitions older than cutoff —
        METADATA-ONLY (Iceberg analog: DROP PARTITION / DELETE WHERE on
        partition bounds).

        The table must be partitioned by ``partition_col`` (tiers are
        written partitionBy('day'), runner.py). The new snapshot's
        ``refs`` are the current groups restricted to the RETAINED
        ``day=...`` directories — no Spark job, no row rewrite; at
        100 TB the nightly TTL pass costs one directory listing. Values
        are compared as their encoded directory strings, which is
        order-correct for ISO dates. When nothing is retained, the
        record keeps the current read schema (:meth:`_kept_schema`).
        Returns the new snapshot id.
        """
        cur = self._current(table, partition_col)
        refs = _filter_groups(cur["refs"], partition_col, lambda v: v >= cutoff)
        return self._commit_child(
            table, cur, refs=refs,
            schema=self._kept_schema(spark, table, refs, cur["schema"]),
            properties={"retention_cutoff": cutoff, "metadata_only": True},
        )

    def compact_partitions(
        self,
        spark: SparkSession,
        table: str,
        partition_col: str,
        partitions: list[str] | None = None,
        files_per_partition: int = 1,
    ) -> str:
        """Small-file compaction (Iceberg ``rewrite_data_files``
        analog): rewrite the named partitions (default: every live
        partition) at ``files_per_partition`` files each, committed as
        a partition overwrite — readers never see a half-compacted
        table, untouched partitions are carried by reference, and the
        previous snapshot remains time-travelable until expired.
        Rows are unchanged; only the file layout is. Returns the new
        snapshot id."""
        cur = self._current(table)
        if partitions is None:
            prefix = f"{partition_col}="
            partitions = sorted(
                {
                    os.path.basename(p.rstrip("/"))[len(prefix):]
                    for g in _filter_groups(cur["refs"], partition_col, lambda v: True)
                    for p in g["paths"]
                }
            )
        df = (
            self.read(spark, table)
            .where(F.col(partition_col).isin(partitions))
            .repartition(files_per_partition, F.col(partition_col))
        )
        return self.overwrite_partitions(
            spark, df, table, partition_col, partitions
        )

    def snapshot_diff(
        self, spark: SparkSession, table: str, from_id: str, to_id: str
    ) -> dict[str, DataFrame]:
        """Row-level change set between two snapshots (Iceberg
        changelog-read analog): {'added': rows only in ``to``,
        'removed': rows only in ``from``} — multiset semantics via
        exceptAll, so duplicate-count changes surface too."""
        a = self.read(spark, table, snapshot_id=from_id)
        b = self.read(spark, table, snapshot_id=to_id)
        cols = [c for c in b.columns if c in a.columns]
        return {
            "added": b.select(*cols).exceptAll(a.select(*cols)),
            "removed": a.select(*cols).exceptAll(b.select(*cols)),
        }

    # ----------------------------------------------------- schema evolution
    def rename_column(self, table: str, old: str, new: str) -> str:
        """Metadata-only column rename (Iceberg ALTER TABLE ... RENAME
        COLUMN): a new snapshot that reuses the current snapshot's data
        files verbatim and records the name mapping; the stable field
        id travels to the new name, so lineage survives. Zero rows
        rewritten at any scale. Returns the new snapshot id."""
        cur = self._current(table)
        fields = dict(cur["fields"])
        if old not in fields:
            raise ValueError(f"{table!r} has no column {old!r}")
        if new in fields:
            raise ValueError(f"{table!r} already has a column {new!r}")
        fields[new] = fields.pop(old)
        return self._commit_child(
            table, cur, fields=fields, renames=cur["renames"] + [[old, new]],
            properties={"rename": f"{old}->{new}", "metadata_only": True},
        )

    def add_column(self, table: str, name: str, dtype: str) -> str:
        """Metadata-only column add (Iceberg ADD COLUMN): existing data
        files are untouched; reads materialize the column as typed
        NULLs until a later write_snapshot fills it. Returns the new
        snapshot id."""
        cur = self._current(table)
        fields = dict(cur["fields"])
        if name in fields:
            raise ValueError(f"{table!r} already has a column {name!r}")
        fields[name] = max(fields.values(), default=0) + 1
        return self._commit_child(
            table, cur, fields=fields, added={**cur["added"], name: dtype},
            properties={"add_column": f"{name} {dtype}", "metadata_only": True},
        )

    # -------------------------------------------------------------- reads
    def current_snapshot(self, table: str) -> dict | None:
        m = self._read_manifest(table)
        if m["current"] is None:
            return None
        return next(s for s in m["snapshots"] if s["id"] == m["current"])

    def snapshots(self, table: str) -> list[dict]:
        return self._read_manifest(table)["snapshots"]

    def read(self, spark: SparkSession, table: str, snapshot_id: str | None = None) -> DataFrame:
        """The current snapshot of ``table``, or ``snapshot_id`` (time
        travel), as :meth:`scan` reads it."""
        m = self._read_manifest(table)
        sid = snapshot_id or m["current"]
        if sid is None:
            raise FileNotFoundError(f"table {table!r} has no current snapshot")
        return self.scan(spark, next(s for s in m["snapshots"] if s["id"] == sid))

    def scan(self, spark: SparkSession, snap: dict) -> DataFrame:
        """Read a snapshot record, published or only staged. An
        unpartitioned snapshot is ONE scan of every group's directory
        with the schema its record carries: no footer inference, so no
        Spark job until an action, and an appended table stays one scan
        node. A partitioned one is one scan per non-empty ``refs``
        group, unioned by name, inferring from the footers; a partition
        list keeps its ``basePath`` so the partition column is
        recovered from the directory names (typed as read). With no
        group left, the empty frame comes from the recorded schema (no
        scan). Renames and added columns apply last (Iceberg resolves
        the same way via field ids in the file footers)."""
        schema = snap["schema"] and StructType.fromJson(snap["schema"])
        live = [g for g in snap["refs"] if g["paths"] != []]
        if schema and not snap["partition_by"]:
            dirs = [p for g in live for p in g["paths"] or [g["basePath"]]]
            scans = [spark.read.schema(schema).parquet(*dirs)] if dirs else []
        else:
            scans = [
                spark.read.parquet(g["basePath"])
                if g["paths"] is None
                else spark.read.option("basePath", g["basePath"]).parquet(*g["paths"])
                for g in live
            ]
        if scans:
            df = functools.reduce(DataFrame.unionByName, scans)
        else:
            df = spark.createDataFrame([], schema)
        for old, new in snap["renames"]:
            df = df.withColumnRenamed(old, new)
        for name, dtype in snap["added"].items():
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(dtype))
        return df

    def exists(self, table: str) -> bool:
        return self._read_manifest(table)["current"] is not None

    # --------------------------------------------------------- maintenance
    def expire_snapshots(self, table: str, keep_last: int = 2) -> int:
        """Drop all but the newest ``keep_last`` snapshots (metadata +
        data). Iceberg analog: expire_snapshots.

        Reference-aware: an expired snapshot's owned directory is
        removed wholesale unless a kept snapshot references it — in
        full (a whole-directory group), which spares it, or by
        partition, in which case only its UNREFERENCED partition
        subdirs are reclaimed (this is where TTL-dropped days are
        physically deleted).

        The same pass reclaims what dead writers left in the table's
        directory (Iceberg's ``remove_orphan_files``): a ``snap-*`` dir
        that no record references and no open commit intent names
        (staged by a run that died before ``publish``), and
        ``.commit-lock.*`` debris (a broken lease's tombstone, a dead
        acquirer's prepared lease). Each goes only once nothing under it
        changed for :data:`ORPHAN_AGE_S`, so a live writer's staging dir
        is never taken, nor a tombstone whose name a racing lease
        breaker may still rename onto. Returns the number of snapshots
        expired."""
        with self._locked([table]):
            m = self._read_manifest(table)
            drop, keep = m["snapshots"][:-keep_last], m["snapshots"][-keep_last:]
            if drop:
                m["snapshots"] = keep
                self._write_manifest(table, m)
            orphans = self._orphans(table, keep)
        for path in orphans:
            shutil.rmtree(path, ignore_errors=True)
        groups = [g for s in keep for g in s["refs"]]
        whole = {os.path.normpath(g["basePath"]) for g in groups if g["paths"] is None}
        parts = {os.path.normpath(p) for g in groups for p in g["paths"] or []}
        for s in drop:
            owned = s["path"] and os.path.normpath(s["path"])
            if not owned or owned in whole:
                continue
            if not any(p.startswith(owned + os.sep) for p in parts):
                shutil.rmtree(owned, ignore_errors=True)
                continue
            for entry in os.listdir(owned):
                sub = os.path.join(owned, entry)
                if "=" in entry and os.path.isdir(sub) and sub not in parts:
                    shutil.rmtree(sub, ignore_errors=True)
        return len(drop)

    def _orphans(self, table: str, kept: list[dict]) -> list[str]:
        """The dead writers' leftovers :meth:`expire_snapshots` reclaims;
        called under the table's lease (whose acquisition made the
        table's directory), so no publish to it is in flight and every
        intent listed is a crashed group's."""
        tdir = os.path.join(self.root, table)
        snaps = list(kept)
        for entry in os.listdir(self.root):
            if entry.startswith(".pending-group-"):
                snaps += [i["snap"] for i in _read_json(os.path.join(self.root, entry), [])]
        # by dir name, which holds the unique snapshot id: robust to
        # the catalog root being spelled differently by another writer
        live = {
            os.path.basename(os.path.normpath(d))
            for s in snaps
            for d in [s["path"], *(g["basePath"] for g in s["refs"])]
            if d
        }
        cutoff = time.time() - ORPHAN_AGE_S
        return [
            os.path.join(tdir, e)
            for e in os.listdir(tdir)
            if (e.startswith("snap-") and e not in live or e.startswith(".commit-lock."))
            and _newest_mtime(os.path.join(tdir, e)) < cutoff
        ]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a hash-bucketed (optionally sorted) table so later
    equi-joins and aggregations on ``bucket_cols`` are SHUFFLE-FREE:
    two tables bucketed the same way sort-merge-join with zero
    Exchange on either side — at 100 TB that deletes the single most
    expensive stage of a repeated big-big join (fact x fact co-located
    on entity id). Iceberg analog: ``bucket(n, col)`` partition
    transform + storage-partitioned joins.

    Uses Spark's native ``bucketBy``; bucket metadata lives in the
    session catalog (in-memory here, a real metastore/Iceberg catalog
    on a cluster — tables.py module docstring documents that mapping).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back (bucket metadata comes from the
    catalog, so joins on the bucket columns skip the shuffle)."""
    return spark.table(table)

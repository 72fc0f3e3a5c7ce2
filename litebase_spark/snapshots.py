"""The versioned table store: every table write, snapshots, branches,
backups and point-in-time restore (SURVEY §2.A row A21).

In the reference every write becomes a WAL version, and PITR, snapshots
and branches read those versions (rollback logs keep page pre-images,
restore forks files copy-on-write — pkg/backups/rollback_logger.go:12-34,
snapshot_logger.go:16-27, restore.go:24-70). Here every write becomes a
version of one manifest-based store, the shape Delta/Iceberg formalize
(with a lake format on the classpath this class collapses to its
commits, shallow clone and RESTORE/time travel):

  * a version is a FILE LIST under ``<root>/<table>/``; an append adds
    files to the head version's directory, a rewrite writes a fresh
    directory, and no data file is modified or deleted by a commit. A
    log entry lists only the files its version added, so an append
    costs the manifest its own files, and a version's list runs back to
    the last rewrite;
  * a namespace's manifest (``_store/log/<namespace>.json``) holds the
    version log of each of its tables and is replaced by one atomic
    rename, so a commit of several tables lands whole or not at all;
  * a snapshot pins {table: version} — one small JSON, zero data IO;
  * restore and time travel read pinned file lists in place
    (zero-copy); a branch is a namespace forked from another one's
    manifest, sharing every data file;
  * vacuum deletes logged files unreachable from every snapshot and
    every namespace's head (the reference's VACUUM + retention analog).

`Engine` owns one store, rooted at ``spark.sql.warehouse.dir``: its SQL
writes, transaction commits and the foreachBatch upsert sink all commit
here, and its catalog tables are EXTERNAL tables located at their head
version's directory. At 100 TB a snapshot or branch is a few KB of JSON
regardless of data size, exactly like the reference's snapshot log.
"""

from __future__ import annotations

import functools
import io
import json
import os
import shutil
import tarfile
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

STORE_DIR = "_store"  # store metadata under the root, beside the tables


# one manifest lock per store root: every store object on a root
# serializes its commits with every other one in the process
_LOCKS: dict[str, threading.Lock] = {}


def _log_path(root: str, namespace: str) -> str:
    return os.path.join(root, STORE_DIR, "log", f"{namespace}.json")


def read_manifest(root: str, namespace: str) -> dict[str, list[dict]]:
    """A namespace's manifest: table -> its version log, oldest first."""
    p = _log_path(root, namespace)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def write_manifest(root: str, namespace: str, manifest: dict) -> None:
    """Swap a namespace's manifest in one atomic rename: a crash leaves
    the old manifest whole."""
    p = _log_path(root, namespace)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, p)


def next_version(log: list[dict]) -> int:
    return log[-1]["version"] + 1 if log else 1


def _entry(
    version: int, ts: float, mode: str, files: list[str],
    path: str | None = None, schema: str | None = None,
) -> dict:
    """A version log entry. `files` are the files the version added: an
    append's join those of the versions before it, back to the last
    overwrite (its base), and it keeps the base's schema. `dir`, when
    set, holds exactly the version's files, so a catalog table can be
    located there."""
    return {"version": version, "ts": ts, "mode": mode, "files": files,
            "dir": path, "schema": schema}


def _base(log: list[dict], i: int) -> int:
    """The index of the overwrite that version `log[i]` builds on."""
    while i > 0 and log[i]["mode"] == "append":
        i -= 1
    return i


def _resolve(log: list[dict], i: int) -> list[str]:
    """The whole file list of version `log[i]`."""
    return [f for e in log[_base(log, i):i + 1] for f in e["files"]]


def _parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


@dataclass
class StagedVersion:
    """A version whose files are written but not yet in the manifest:
    `publish` makes it the table's head, `discard` deletes its files."""

    table: str
    namespace: str
    mode: str  # overwrite | append | drop
    path: str | None  # the directory its files were written to
    files: list[str]
    schema: str | None = None  # StructType JSON
    version: int | None = None  # given by publish
    # an append's files as moved into the head's directory by publish
    landed: list[str] = field(default_factory=list)

    @property
    def appends(self) -> bool:
        return self.mode == "append"


class VersionedStore:
    """Manifest-based versioned table store: snapshots and branches are
    O(metadata), never O(data)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = os.path.abspath(root)
        self.backups_dir = os.path.join(self.root, STORE_DIR, "backups")
        for d in (self.backups_dir, os.path.join(self.root, STORE_DIR,
                                                 "snapshots")):
            os.makedirs(d, exist_ok=True)

    @property
    def _lock(self) -> threading.Lock:
        """Held by publish and create_branch while they read, change and
        replace a manifest."""
        return _LOCKS.setdefault(self.root, threading.Lock())

    # -- version log --------------------------------------------------------

    def _log(self, table: str, namespace: str) -> list[dict]:
        return read_manifest(self.root, namespace).get(table, [])

    def namespaces(self) -> list[str]:
        """Every namespace: main, and each branch forked from it."""
        d = os.path.dirname(_log_path(self.root, "main"))
        logs = os.listdir(d) if os.path.isdir(d) else []
        return sorted({"main", *(f[:-5] for f in logs if f.endswith(".json"))})

    def tables(self, namespace: str = "main") -> list[str]:
        """The namespace's tables whose head is not a DROP."""
        return sorted(self.current_versions(namespace))

    def head_dir(self, table: str, namespace: str = "main") -> str | None:
        """The directory holding exactly the head version's files; None
        when the table has no head or its files span directories."""
        log = self._log(table, namespace)
        return log[-1]["dir"] if log and log[-1]["mode"] != "drop" else None

    # -- write side: stage, then publish or discard --------------------------

    def new_dir(
        self, table: str, namespace: str = "main", append: bool = False
    ) -> str:
        """A fresh directory for the files of the table's next version
        (not created). An append's go to a hidden directory inside the
        head's directory (table scans and streams skip names that start
        with _), and publish moves them up; anything else gets a version
        directory of its own. The suffix keeps a failed or discarded
        attempt from colliding with the next one."""
        head = self.head_dir(table, namespace) if append else None
        if head:
            return os.path.join(head, f"_stage-{uuid.uuid4().hex[:8]}")
        version = next_version(self._log(table, namespace))
        return os.path.join(self.root, table, f"{namespace}-tx{version:08d}"
                            f"-{uuid.uuid4().hex[:8]}")

    def stage_dir(
        self, table: str, path: str, schema: StructType | None,
        append: bool = False, namespace: str = "main",
    ) -> StagedVersion:
        """Stage the parquet files under `path` (a `new_dir`) as the
        table's next version: added to the head's files when `append`,
        replacing them otherwise."""
        return StagedVersion(
            table, namespace, "append" if append else "overwrite", path,
            _parquet_files(path), schema.json() if schema else None)

    def stage(
        self, table: str, df: DataFrame, append: bool = False,
        namespace: str = "main",
    ) -> StagedVersion:
        """Write `df` to a fresh directory as the table's next version,
        unpublished."""
        path = self.new_dir(table, namespace, append)
        df.write.parquet(path)
        return self.stage_dir(table, path, df.schema, append, namespace)

    def publish(self, staged: list[StagedVersion]) -> None:
        """Append every staged version to its log with one manifest swap
        per namespace, so the tables of a commit land together. Each
        version gets its number and commit time here. An append's files
        first move into the head's directory when it has one, which is
        where the catalog table reads; an append to a table without a
        head becomes its first version."""
        now = time.time()
        with self._lock:
            for ns in {s.namespace for s in staged}:
                manifest = read_manifest(self.root, ns)
                for s in (s for s in staged if s.namespace == ns):
                    log = manifest.setdefault(s.table, [])
                    s.version = next_version(log)
                    log.append(self._commit_entry(s, log, now))
                write_manifest(self.root, ns, manifest)
        for s in staged:  # left behind: only Spark's markers and checksums
            if s.landed:
                shutil.rmtree(s.path, ignore_errors=True)

    @staticmethod
    def _commit_entry(s: StagedVersion, log: list[dict], now: float) -> dict:
        """The entry `s` appends to `log`, moving an append's files into
        the head's directory."""
        head = log[-1] if log and log[-1]["mode"] != "drop" else None
        mode, files, path = s.mode, s.files, s.path
        if mode == "append" and head is None:
            mode = "overwrite"
        elif mode == "append":
            path = head["dir"]
            if path:
                s.landed = [os.path.join(path, os.path.basename(f))
                            for f in files]
                for src, dst in zip(files, s.landed):
                    os.rename(src, dst)
                files = s.landed
        return _entry(s.version, now, mode, files, path,
                      None if mode == "append" else s.schema)

    @staticmethod
    def discard(staged: list[StagedVersion]) -> None:
        """Delete the files of versions that will not be published."""
        for s in staged:
            for f in s.landed:
                if os.path.exists(f):
                    os.remove(f)
            if s.path:
                shutil.rmtree(s.path, ignore_errors=True)

    def drop(self, table: str, namespace: str = "main") -> None:
        """Commit a DROP: later snapshots leave the table out, earlier
        ones still restore it."""
        self.publish([StagedVersion(table, namespace, "drop", None, [])])

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        namespace: str = "main",
    ) -> int:
        """Commit a new version; returns the version number. ``append``
        reuses every prior file (incremental); ``overwrite`` starts a
        fresh file list but leaves old files for snapshots/branches."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        staged = self.stage(table, df, mode == "append", namespace)
        try:
            self.publish([staged])
        except BaseException:
            self.discard([staged])
            raise
        return staged.version

    # -- read side ----------------------------------------------------------

    def _find(
        self, table: str, version: int | None, namespace: str
    ) -> tuple[list[dict], int]:
        """(log, index) of a version; the head when `version` is None."""
        log = self._log(table, namespace)
        if not log:
            raise LookupError(f"unknown table {namespace}.{table}")
        i = len(log) - 1 if version is None else next(
            (i for i, e in enumerate(log) if e["version"] == version), None)
        if i is None or log[i]["mode"] == "drop":
            raise LookupError(
                f"{namespace}.{table} has no version {version or 'head'}")
        return log, i

    def files(
        self, table: str, version: int | None = None, namespace: str = "main"
    ) -> list[str]:
        return _resolve(*self._find(table, version, namespace))

    def schema(
        self, table: str, version: int | None = None, namespace: str = "main"
    ) -> StructType | None:
        """The version's schema; None when its writer recorded none."""
        log, i = self._find(table, version, namespace)
        schema = log[_base(log, i)]["schema"]
        return StructType.fromJson(json.loads(schema)) if schema else None

    def read(
        self, table: str, version: int | None = None, namespace: str = "main"
    ) -> DataFrame:
        """Time travel: read a pinned version's file list in place."""
        files = self.files(table, version, namespace)
        schema = self.schema(table, version, namespace)
        if schema is None:
            return self.spark.read.parquet(*files)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def version_at(
        self, table: str, ts: float, namespace: str = "main"
    ) -> int:
        """Latest version committed at-or-before `ts` (the timeline
        resolution behind TIMESTAMP AS OF and PITR)."""
        cands = [e for e in self._log(table, namespace) if e["ts"] <= ts]
        if not cands or cands[-1]["mode"] == "drop":
            raise LookupError(f"no version of {namespace}.{table} at {ts}")
        return cands[-1]["version"]

    def current_versions(self, namespace: str = "main") -> dict[str, int]:
        return {
            t: log[-1]["version"]
            for t, log in read_manifest(self.root, namespace).items()
            if log[-1]["mode"] != "drop"
        }

    # -- snapshots (O(metadata)) --------------------------------------------

    def snapshot(self, label: str = "", namespace: str = "main") -> dict:
        """Pin the namespace's current versions. Writes ONE small JSON —
        no table data is copied or rewritten — and returns it."""
        created = time.time()
        snap_id = f"{int(created * 1e6):018d}"
        manifest = {
            "snapshot_id": snap_id,
            "created_at": created,
            "label": label,
            "namespace": namespace,
            "versions": self.current_versions(namespace),
        }
        path = os.path.join(self.root, STORE_DIR, "snapshots",
                            f"{snap_id}.json")
        with open(path, "w") as f:
            json.dump(manifest, f)
        return manifest

    def list_snapshots(self) -> list[dict]:
        out = []
        d = os.path.join(self.root, STORE_DIR, "snapshots")
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
        return out

    def snapshot_at(self, ts: float) -> dict:
        cands = [s for s in self.list_snapshots() if s["created_at"] <= ts]
        if not cands:
            raise LookupError(f"no snapshot at or before {ts}")
        return cands[-1]

    # -- restore / branch (zero-copy) ---------------------------------------

    def restore_at(self, ts: float, view_prefix: str) -> list[str]:
        """Point-in-time restore: register ``<prefix>__<table>`` temp
        views over the pinned file lists. Zero data movement — the views
        read the original immutable files."""
        snap = self.snapshot_at(ts)
        ns = snap["namespace"]
        out = []
        for table, version in sorted(snap["versions"].items()):
            self.read(table, version, ns).createOrReplaceTempView(
                f"{view_prefix}__{table.replace('.', '__')}"
            )
            out.append(table)
        return out

    def create_branch(self, branch: str, source: str = "main") -> list[str]:
        """Fork a namespace: copy its manifest (a few KB), share all
        data files. Writes to the branch diverge; the parent is
        untouched (reference: branch.go:15-30 forks metadata, restore.go
        forks files copy-on-write)."""
        with self._lock:
            if os.path.exists(_log_path(self.root, branch)):
                raise FileExistsError(f"branch {branch!r} already exists")
            # the source keeps its directories: a branch append never
            # joins a directory the source's catalog tables read
            write_manifest(self.root, branch, {
                t: [dict(e, dir=None) for e in log]
                for t, log in read_manifest(self.root, source).items()})
        return self.tables(branch)

    # -- change data feed (file-level CDF over the manifest log) ------------

    def changes(
        self,
        table: str,
        v_from: int,
        v_to: int | None = None,
        namespace: str = "main",
    ) -> DataFrame:
        """`table_changes(t, v_from, v_to)` analog (Delta CDF shape):
        rows in files ADDED between the versions surface as inserts,
        rows in files REMOVED as deletes, tagged in `_change_type`.
        Versions are immutable file lists, so the diff is pure manifest
        set algebra — zero data copied, and appends produce exactly the
        appended rows. (Writes are append/overwrite, so there are no
        row-level update_pre/postimage types to emit.)"""
        old = set(self.files(table, v_from, namespace))
        new = set(self.files(table, v_to, namespace))
        parts = [
            self.spark.read.parquet(*sorted(fs))
            .withColumn("_change_type", F.lit(kind))
            for kind, fs in (("insert", new - old), ("delete", old - new))
            if fs
        ]
        if not parts:
            return (self.read(table, v_from, namespace)
                    .withColumn("_change_type", F.lit("")).limit(0))
        return functools.reduce(DataFrame.unionByName, parts)

    # -- archive backups (reference: pkg/backups/backup.go tar.gz) ----------

    def backup_archive(
        self, archive: str, snapshot_id: str | None = None
    ) -> str:
        """Write a self-contained tar.gz of one snapshot: its manifest
        plus the pinned data files (stored under their store-relative
        paths). The archive restores into a fresh VersionedStore with
        `restore_archive` — the reference's portable backup format is
        the same shape (tar.gz of the database files plus metadata,
        pkg/backups/backup.go:32-70)."""
        snaps = self.list_snapshots()
        if snapshot_id is None:
            if not snaps:
                raise LookupError("no snapshots to back up")
            snap = snaps[-1]
        else:
            match = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not match:
                raise LookupError(f"no snapshot {snapshot_id}")
            snap = match[0]
        ns = snap["namespace"]
        with tarfile.open(archive, "w:gz") as tar:
            manifest = dict(snap)
            files = {t: self.files(t, v, ns)
                     for t, v in snap["versions"].items()}
            manifest["files"] = {
                t: [os.path.relpath(f, self.root) for f in fs]
                for t, fs in files.items()
            }
            schemas = {t: self.schema(t, v, ns)
                       for t, v in snap["versions"].items()}
            manifest["schemas"] = {t: sc and sc.json()
                                   for t, sc in schemas.items()}
            payload = json.dumps(manifest).encode()
            info = tarfile.TarInfo("BACKUP_MANIFEST.json")
            info.size = len(payload)
            tar.addfile(info, io.BytesIO(payload))
            for fs in files.values():
                for f in fs:
                    tar.add(f, arcname=os.path.relpath(f, self.root))
        return archive

    @classmethod
    def restore_archive(
        cls, spark: SparkSession, archive: str, root: str
    ) -> "VersionedStore":
        """Materialize a backup archive as a fresh store: extract the
        data files, then seed each table's version log with one entry
        pointing at the restored files (version 1 of the new timeline —
        the reference's restore likewise starts a fresh branch from the
        backup point, pkg/backups/restore.go:24-70)."""
        with tarfile.open(archive, "r:gz") as tar:
            member = tar.extractfile("BACKUP_MANIFEST.json")
            manifest = json.loads(member.read())
            tar.extractall(root, filter="data")
        store = cls(spark, root)
        write_manifest(store.root, "main", {
            t: [_entry(1, time.time(), "overwrite",
                       [os.path.join(store.root, r) for r in rels],
                       schema=manifest.get("schemas", {}).get(t))]
            for t, rels in manifest["files"].items()
        })
        return store

    # -- retention ----------------------------------------------------------

    def vacuum(self) -> list[str]:
        """Delete data files unreachable from every snapshot-pinned
        version and every namespace's head version. Unpinned history
        becomes unreadable afterwards — the same retention contract as
        Delta VACUUM. Returns deleted paths."""
        live: set[str] = set()
        for snap in self.list_snapshots():
            ns = snap["namespace"]
            for t, v in snap["versions"].items():
                live.update(self.files(t, v, ns))
        logged: set[str] = set()
        for ns in self.namespaces():
            for log in read_manifest(self.root, ns).values():
                if log[-1]["mode"] != "drop":
                    live.update(_resolve(log, len(log) - 1))
                for e in log:
                    logged.update(e["files"])
        deleted = sorted(f for f in logged - live if os.path.exists(f))
        for f in deleted:
            os.remove(f)
        return deleted


class IncrementalAggView:
    """Incrementally maintained aggregate view over a VersionedStore
    table: COUNT(*) and SUM(value_col) per key_col.

    The classic incremental-view-maintenance contract on an immutable
    log: `refresh()` reads ONLY the files appended since the last
    refresh (manifest diff via VersionedStore.changes), partial-
    aggregates them, and merges into the stored state — at 100 TB a
    refresh costs O(new data), not O(table). A non-append change
    (overwrite/delete) falls back to one full recompute, exactly like
    Delta/materialized-view engines invalidate on non-append commits.
    State is itself a tiny parquet table in the store root.
    """

    def __init__(
        self,
        store: VersionedStore,
        name: str,
        table: str,
        key_col: str,
        value_col: str,
    ) -> None:
        self.store = store
        self.name = name
        self.table = table
        self.key_col = key_col
        self.value_col = value_col
        self.state_path = os.path.join(store.root, STORE_DIR, "views", name)
        self.meta_path = self.state_path + ".json"

    def _last_version(self) -> int | None:
        if not os.path.exists(self.meta_path):
            return None
        with open(self.meta_path) as f:
            return json.load(f)["version"]

    def _aggregate(self, df: DataFrame) -> DataFrame:
        return df.groupBy(self.key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(self.value_col).alias("total"),
        )

    def refresh(self) -> dict:
        """Returns {"mode": "full"|"incremental", "version": v}."""
        head = self.store.current_versions()[self.table]
        last = self._last_version()
        mode = "full"
        if last is not None and last < head:
            delta = self.store.changes(self.table, last, head)
            if (delta.select("_change_type").distinct().count() <= 1
                    and delta.filter(
                        F.col("_change_type") == "delete"
                    ).isEmpty()):
                partial = self._aggregate(delta.drop("_change_type"))
                state = self.store.spark.read.parquet(self.state_path)
                merged = (
                    state.unionByName(partial)
                    .groupBy(self.key_col)
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("total").alias("total"),
                    )
                )
                merged.localCheckpoint(eager=True).write.mode(
                    "overwrite"
                ).parquet(self.state_path)
                mode = "incremental"
        if mode == "full":
            if last == head and last is not None:
                return {"mode": "noop", "version": head}
            self._aggregate(self.store.read(self.table)).write.mode(
                "overwrite"
            ).parquet(self.state_path)
        with open(self.meta_path, "w") as f:
            json.dump({"version": head}, f)
        return {"mode": mode, "version": head}

    def read(self) -> DataFrame:
        return self.store.spark.read.parquet(self.state_path)


def versioned_read_stream(store: VersionedStore, table: str):
    """Consume a VersionedStore table as a STREAM: Spark's file source
    treats each committed transaction directory's files as newly
    arrived data, so appends flow incrementally to any Structured
    Streaming sink with exactly-once checkpointed progress — the
    manifest store doubles as a CDC source for append-only tables.
    Any rewrite (an UPDATE or DELETE, and an `Engine.optimize` too)
    writes a fresh directory, which the stream delivers as new files:
    it re-delivers the table's rows. Gate on append-only pipelines, or
    consume `changes()` batch-wise instead."""
    schema = store.read(table).schema
    path = os.path.join(store.root, table)
    return (
        store.spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{path}/*")
    )

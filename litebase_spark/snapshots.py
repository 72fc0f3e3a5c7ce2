"""Snapshots, backups, and point-in-time restore (SURVEY §2.A row A21).

The reference implements PITR with rollback logs (page pre-images per
checkpoint), daily snapshot logs, tar.gz backups, and branch-from-restore
(reference: pkg/backups/backup.go:32-70, restore.go:24-70,
snapshot_logger.go:16-35, rollback_log.go). On Spark the idiomatic
equivalent is versioned immutable table snapshots: each snapshot is a
full parquet copy of the table set plus a JSON manifest keyed by a
monotonically increasing timestamp; restore-at-time picks the latest
snapshot at-or-before the requested instant (the same contract the
reference's restore timeline resolves). With a Delta/Iceberg catalog
every method here collapses to built-in time travel / RESTORE TABLE —
the manager keeps that swap possible behind one class.

Two implementations:

  * SnapshotManager — full-copy snapshots (a distributed parquet write
    per table). Simple, self-contained, O(data) per snapshot; kept as
    the compatibility surface.
  * VersionedStore — the 100 TB path: an immutable-file transaction log
    where snapshots/branches pin version manifests (O(metadata), zero
    data rewrite), appends extend file lists incrementally, restore is
    zero-copy view registration, and vacuum enforces retention. This is
    the round-3 answer to the "full-copy snapshot/branch is not usable
    at 100 TB" gap; with Delta/Iceberg on the classpath it collapses to
    shallow clone + RESTORE/time travel.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from litebase_spark.functions.dialect import quote_ident


@dataclass
class SnapshotInfo:
    snapshot_id: str
    created_at: float
    label: str
    tables: list[str]
    path: str


class SnapshotManager:
    """Filesystem-backed snapshot timeline for a set of named tables."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- write side ---------------------------------------------------------

    def snapshot(
        self, tables: dict[str, DataFrame], label: str = ""
    ) -> SnapshotInfo:
        """Materialize a consistent snapshot of the given tables."""
        created = time.time()
        snap_id = f"{int(created * 1000):015d}"
        path = os.path.join(self.root, snap_id)
        for name, df in tables.items():
            df.write.mode("errorifexists").parquet(os.path.join(path, name))
        info = SnapshotInfo(
            snapshot_id=snap_id,
            created_at=created,
            label=label,
            tables=sorted(tables),
            path=path,
        )
        with open(os.path.join(path, "MANIFEST.json"), "w") as f:
            json.dump(
                {
                    "snapshot_id": info.snapshot_id,
                    "created_at": info.created_at,
                    "label": info.label,
                    "tables": info.tables,
                },
                f,
            )
        return info

    # -- read side ----------------------------------------------------------

    def list_snapshots(self) -> list[SnapshotInfo]:
        out = []
        for snap_id in sorted(os.listdir(self.root)):
            manifest = os.path.join(self.root, snap_id, "MANIFEST.json")
            if not os.path.exists(manifest):
                continue  # incomplete snapshot (write crashed) — not visible
            with open(manifest) as f:
                m = json.load(f)
            out.append(
                SnapshotInfo(
                    snapshot_id=m["snapshot_id"],
                    created_at=m["created_at"],
                    label=m.get("label", ""),
                    tables=m["tables"],
                    path=os.path.join(self.root, snap_id),
                )
            )
        return out

    def snapshot_at(self, ts: float) -> SnapshotInfo:
        """Latest snapshot at-or-before `ts` (the reference's restore
        timeline resolution: pkg/backups/restore.go picks the rollback
        log covering the requested point)."""
        candidates = [s for s in self.list_snapshots() if s.created_at <= ts]
        if not candidates:
            raise LookupError(f"no snapshot at or before {ts}")
        return candidates[-1]

    def read_table(self, snap: SnapshotInfo, table: str) -> DataFrame:
        if table not in snap.tables:
            raise LookupError(f"table {table!r} not in snapshot {snap.snapshot_id}")
        return self.spark.read.parquet(os.path.join(snap.path, table))

    # -- restore ------------------------------------------------------------

    def restore(
        self,
        snap: SnapshotInfo,
        target_namespace: str,
        tables: list[str] | None = None,
    ) -> list[str]:
        """Restore snapshot tables into a namespace (branch-from-restore:
        the reference forks a branch off a restore point,
        pkg/backups/restore.go:29-56). Returns restored table names."""
        ns = quote_ident(target_namespace)
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns}")
        restored = []
        for t in tables or snap.tables:
            df = self.read_table(snap, t)
            df.write.mode("overwrite").saveAsTable(f"{ns}.{quote_ident(t)}")
            restored.append(t)
        return restored

    def restore_at(
        self, ts: float, target_namespace: str
    ) -> tuple[SnapshotInfo, list[str]]:
        """Point-in-time restore: resolve the timeline, then restore."""
        snap = self.snapshot_at(ts)
        return snap, self.restore(snap, target_namespace)


# ---------------------------------------------------------------------------
# Incremental manifest snapshots (the 100 TB path)
# ---------------------------------------------------------------------------


class VersionedStore:
    """Manifest-based versioned table store: snapshots and branches are
    O(metadata), never O(data).

    The reference's PITR machinery is incremental — rollback logs keep
    page pre-images and restore forks files copy-on-write
    (pkg/backups/rollback_logger.go:12-34, snapshot_logger.go:16-27,
    restore.go:29-56) — whereas SnapshotManager above rewrites every
    table per snapshot. This store brings the same incrementality to the
    Spark side with a miniature transaction log, the shape Delta/Iceberg
    formalize (swap this class for Delta shallow clone + RESTORE when a
    lake format is on the classpath):

      * every write lands in a fresh immutable transaction directory
        ``store/<table>/tx<k>``; nothing is ever modified in place;
      * a version is a FILE LIST: overwrite starts a new list, append
        extends the previous one (so appends never rewrite history);
      * a snapshot pins {table: version} — one small JSON, zero data IO;
      * restore/branch resolve pinned file lists and read them in place
        (zero-copy); a branch forks the version log (O(tables)) and
        diverges on subsequent writes while sharing all parent files;
      * vacuum deletes files unreachable from any snapshot, branch, or
        head version (the reference's VACUUM gate + retention analog).

    At 100 TB: snapshot/branch cost is a few KB of JSON regardless of
    data size, exactly like the reference's snapshot log; data files are
    written once by the normal (distributed) write path.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        for d in ("store", "_log", "snapshots"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    # -- version log --------------------------------------------------------

    def _log_path(self, ns: str, table: str) -> str:
        return os.path.join(self.root, "_log", ns, f"{table}.json")

    def _read_log(self, ns: str, table: str) -> list[dict]:
        p = self._log_path(ns, table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _append_log(self, ns: str, table: str, entry: dict) -> None:
        log = self._read_log(ns, table)
        log.append(entry)
        p = self._log_path(ns, table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.replace(tmp, p)  # atomic manifest swap, crash = old manifest

    def tables(self, namespace: str = "main") -> list[str]:
        d = os.path.join(self.root, "_log", namespace)
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    # -- write side ---------------------------------------------------------

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
        log = self._read_log(namespace, table)
        version = (log[-1]["version"] + 1) if log else 1
        txdir = os.path.join(
            self.root, "store", table, f"{namespace}-tx{version:08d}"
        )
        df.write.mode("errorifexists").parquet(txdir)
        new_files = sorted(
            os.path.join(txdir, f)
            for f in os.listdir(txdir)
            if f.endswith(".parquet")
        )
        files = (
            (log[-1]["files"] + new_files)
            if (mode == "append" and log)
            else new_files
        )
        self._append_log(
            namespace,
            table,
            {
                "version": version,
                "mode": mode,
                "ts": time.time(),
                "files": files,
            },
        )
        return version

    # -- read side ----------------------------------------------------------

    def files(
        self, table: str, version: int | None = None, namespace: str = "main"
    ) -> list[str]:
        log = self._read_log(namespace, table)
        if not log:
            raise LookupError(f"unknown table {namespace}.{table}")
        if version is None:
            return log[-1]["files"]
        for entry in log:
            if entry["version"] == version:
                return entry["files"]
        raise LookupError(f"{namespace}.{table} has no version {version}")

    def read(
        self, table: str, version: int | None = None, namespace: str = "main"
    ) -> DataFrame:
        """Time travel: read a pinned version's file list in place."""
        return self.spark.read.parquet(*self.files(table, version, namespace))

    def version_at(
        self, table: str, ts: float, namespace: str = "main"
    ) -> int:
        """Latest version committed at-or-before `ts` (the timeline
        resolution behind TIMESTAMP AS OF and PITR)."""
        log = self._read_log(namespace, table)
        cands = [e["version"] for e in log if e["ts"] <= ts]
        if not cands:
            raise LookupError(f"no version of {namespace}.{table} at {ts}")
        return cands[-1]

    def current_versions(self, namespace: str = "main") -> dict[str, int]:
        return {
            t: self._read_log(namespace, t)[-1]["version"]
            for t in self.tables(namespace)
        }

    # -- snapshots (O(metadata)) --------------------------------------------

    def snapshot(self, label: str = "", namespace: str = "main") -> SnapshotInfo:
        """Pin the namespace's current versions. Writes ONE small JSON —
        no table data is copied or rewritten."""
        created = time.time()
        snap_id = f"{int(created * 1e6):018d}"
        manifest = {
            "snapshot_id": snap_id,
            "created_at": created,
            "label": label,
            "namespace": namespace,
            "versions": self.current_versions(namespace),
        }
        path = os.path.join(self.root, "snapshots", f"{snap_id}.json")
        with open(path, "w") as f:
            json.dump(manifest, f)
        return SnapshotInfo(
            snapshot_id=snap_id,
            created_at=created,
            label=label,
            tables=sorted(manifest["versions"]),
            path=path,
        )

    def list_snapshots(self) -> list[dict]:
        out = []
        d = os.path.join(self.root, "snapshots")
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
                f"{view_prefix}__{table}"
            )
            out.append(table)
        return out

    def create_branch(self, branch: str, source: str = "main") -> list[str]:
        """Fork a namespace: copy the version LOGS (a few KB), share all
        data files. Writes to the branch diverge; the parent is
        untouched (reference: branch.go:15-30 forks metadata, restore.go
        forks files copy-on-write)."""
        src_dir = os.path.join(self.root, "_log", source)
        dst_dir = os.path.join(self.root, "_log", branch)
        if os.path.exists(dst_dir):
            raise FileExistsError(f"branch {branch!r} already exists")
        os.makedirs(dst_dir)
        forked = []
        for t in self.tables(source):
            with open(self._log_path(source, t)) as f:
                log = json.load(f)
            with open(self._log_path(branch, t), "w") as f:
                json.dump(log, f)
            forked.append(t)
        return forked

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
        from pyspark.sql import functions as F

        old = set(self.files(table, v_from, namespace))
        new = set(
            self.files(table, v_to, namespace)
            if v_to is not None
            else self.files(table, None, namespace)
        )
        added, removed = sorted(new - old), sorted(old - new)
        parts = []
        if added:
            parts.append(
                self.spark.read.parquet(*added).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        if removed:
            parts.append(
                self.spark.read.parquet(*removed).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        if not parts:
            schema = self.read(table, v_from, namespace).schema
            return (
                self.spark.createDataFrame([], schema)
                .withColumn("_change_type", F.lit(""))
                .limit(0)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
        import tarfile

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
            manifest["files"] = {
                t: [os.path.relpath(f, self.root) for f in self.files(t, v, ns)]
                for t, v in snap["versions"].items()
            }
            payload = json.dumps(manifest).encode()
            import io as _io
            import tarfile as _tf

            info = _tf.TarInfo("BACKUP_MANIFEST.json")
            info.size = len(payload)
            tar.addfile(info, _io.BytesIO(payload))
            for t, v in snap["versions"].items():
                for f in self.files(t, v, ns):
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
        import tarfile

        with tarfile.open(archive, "r:gz") as tar:
            member = tar.extractfile("BACKUP_MANIFEST.json")
            manifest = json.loads(member.read())
            tar.extractall(root, filter="data")
        store = cls(spark, root)
        for t, rels in manifest["files"].items():
            store._append_log(
                "main",
                t,
                {
                    "version": 1,
                    "mode": "overwrite",
                    "ts": time.time(),
                    "files": [os.path.join(root, r) for r in rels],
                },
            )
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
        log_root = os.path.join(self.root, "_log")
        for ns in os.listdir(log_root):
            for t in self.tables(ns):
                live.update(self._read_log(ns, t)[-1]["files"])
        deleted = []
        store = os.path.join(self.root, "store")
        for table in os.listdir(store):
            tdir = os.path.join(store, table)
            for tx in os.listdir(tdir):
                txdir = os.path.join(tdir, tx)
                fs = [
                    os.path.join(txdir, f)
                    for f in os.listdir(txdir)
                    if f.endswith(".parquet")
                ]
                if fs and not any(f in live for f in fs):
                    for f in fs:
                        os.remove(f)
                        deleted.append(f)
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
        self.state_path = os.path.join(store.root, "_views", name)
        self.meta_path = self.state_path + ".json"

    def _last_version(self) -> int | None:
        if not os.path.exists(self.meta_path):
            return None
        with open(self.meta_path) as f:
            return json.load(f)["version"]

    def _aggregate(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.groupBy(self.key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(self.value_col).alias("total"),
        )

    def refresh(self) -> dict:
        """Returns {"mode": "full"|"incremental", "version": v}."""
        from pyspark.sql import functions as F

        head_log = self.store._read_log("main", self.table)
        head = head_log[-1]["version"]
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
    manifest store doubles as a CDC source for append-only tables
    (overwrites would re-deliver replaced files; gate on append-only
    pipelines or consume `changes()` batch-wise instead)."""
    schema = store.read(table).schema
    path = os.path.join(store.root, "store", table)
    return (
        store.spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{path}/*")
    )

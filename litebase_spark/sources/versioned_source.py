"""`format("versioned")` — a Spark 4 Python DataSource over the
VersionedStore manifest log.

Exposes version pinning / time travel through the STANDARD reader API
(the surface a reference user points BI tools and notebooks at):

    spark.dataSource.register(VersionedDataSource)
    spark.read.format("versioned")
         .option("root", "/path/to/store")
         .option("table", "events")
         .option("version", 3)          # or timestamp=<epoch seconds>
         .load()

Scale shape: `partitions()` returns ONE InputPartition per pinned data
file (the manifest IS the split list — no directory listing job), and
each task streams its file as Arrow RecordBatches, so a 100 TB table
fans out across the cluster exactly like the native parquet source.
The version resolution happens once on the driver from the few-KB
manifest.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from litebase_spark.snapshots import VersionedStore


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


def _resolve(options: dict) -> tuple[VersionedStore, str, int | None, str]:
    """(store, table, version, namespace) the options pin; version None
    is the head."""
    store = VersionedStore(None, options["root"])
    table, ns = options["table"], options.get("namespace", "main")
    if "timestamp" in options:
        version = store.version_at(table, float(options["timestamp"]), ns)
    else:
        version = int(options["version"]) if "version" in options else None
    return store, table, version, ns


class VersionedReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema_ = schema
        store, table, version, ns = _resolve(options)
        self.files = store.files(table, version, ns)

    def partitions(self):
        # one split per immutable data file: the manifest is the split
        # list, no FS listing; Spark schedules one task per file
        return [_FilePartition(p) for p in self.files]

    def read(self, partition: _FilePartition | None):
        import pyarrow.parquet as pq

        if partition is None:  # Spark's one split of a version with no files
            return

        # Arrow record batches stream straight into Spark's columnar
        # path; column pruning happens via the schema Spark passes down
        names = [f.name for f in self.schema_.fields]
        table = pq.read_table(partition.path, columns=names)
        yield from table.to_batches()


class VersionedWriter(DataSourceWriter):
    """Write side: every task writes its rows to one immutable parquet
    file in a fresh transaction directory; the DRIVER's commit() stages
    that directory's files as one version and publishes it — the same
    two-phase commit the manifest design gives VersionedStore.write,
    now reachable through
    ``df.write.format("versioned")``. An aborted job deletes its
    directory, and never leaves a torn manifest."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.schema_ = schema
        self.options = dict(options)
        self.overwrite = overwrite
        self.ns = self.options.get("namespace", "main")
        self.store = VersionedStore(None, self.options["root"])
        self.txdir = self.store.new_dir(self.options["table"], self.ns,
                                        not overwrite)
        os.makedirs(self.txdir, exist_ok=True)

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema_)
        names = [f.name for f in self.schema_.fields]
        rows = [[getattr(r, n) for n in names] for r in iterator]
        if not rows:
            return WriterCommitMessage()
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        path = os.path.join(self.txdir, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, path)
        return WriterCommitMessage()

    def commit(self, messages):
        staged = self.store.stage_dir(self.options["table"], self.txdir,
                                      self.schema_, not self.overwrite, self.ns)
        try:
            self.store.publish([staged])
        except BaseException:
            self.store.discard([staged])
            raise

    def abort(self, messages):
        shutil.rmtree(self.txdir, ignore_errors=True)


class VersionedDataSource(DataSource):
    """DataSource entry point (register with
    ``spark.dataSource.register(VersionedDataSource)``)."""

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def schema(self):
        """The schema the version's writer recorded, as
        `VersionedStore.read` uses it; the first file's footer when none
        was recorded."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        store, table, version, ns = _resolve(self.options)
        schema = store.schema(table, version, ns)
        if schema is not None:
            return schema
        return from_arrow_schema(
            pq.read_schema(store.files(table, version, ns)[0]))

    def reader(self, schema: StructType) -> DataSourceReader:
        return VersionedReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return VersionedWriter(schema, self.options, overwrite)

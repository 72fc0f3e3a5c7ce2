"""Source/sink connectors: format-agnostic table IO.

The reference's "sources" are its bespoke storage stack (VFS -> WAL ->
page logs -> ranges -> tiered S3; reference: pkg/vfs/vfs.go:245-634,
pkg/storage/tiered_file_system_driver.go:30-60) — machinery Spark
replaces wholesale with FileSystem connectors. What remains engine
surface is the FORMAT layer: reading and writing tables as
parquet / csv / json / orc with explicit schemas, partitioned layouts,
and write modes.

Scale contract:
  * Explicit schemas for csv/json (inference = a full extra scan at
    100 TB).
  * Partitioned writes land one directory per key value -> partition
    pruning serves point/range queries without an index (the Spark
    answer to the reference's B-tree index scan, SURVEY §2.B scans).
  * ``maxRecordsPerFile`` / pre-write repartition keep file sizes near
    the 128 MiB sweet spot; never coalesce(1) at scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

FORMATS = ("parquet", "csv", "json", "orc")

# Scale-safe defaults per format (inference off; csv with header so
# round-trips keep column names).
_READ_DEFAULTS: dict[str, dict[str, str]] = {
    "csv": {"header": "true", "inferSchema": "false"},
    "json": {},
    "parquet": {},
    "orc": {},
}
_WRITE_DEFAULTS: dict[str, dict[str, str]] = {
    "csv": {"header": "true"},
    "json": {},
    "parquet": {"compression": "snappy"},
    "orc": {},
}


@dataclass
class TableSource:
    """A named external table: path + format + options (+ schema for
    text formats)."""

    name: str
    path: str
    format: str = "parquet"
    schema: StructType | str | None = None
    options: dict[str, str] = field(default_factory=dict)


def read_table(spark: SparkSession, src: TableSource) -> DataFrame:
    if src.format not in FORMATS:
        raise ValueError(f"unsupported format {src.format!r}; one of {FORMATS}")
    reader = spark.read.format(src.format)
    opts = {**_READ_DEFAULTS[src.format], **src.options}
    if opts:
        reader = reader.options(**opts)
    if src.schema is not None:
        reader = reader.schema(src.schema)
    elif src.format in ("csv", "json"):
        raise ValueError(
            f"{src.format} source {src.name!r} requires an explicit schema "
            "(inference is a full extra pass at scale)"
        )
    return reader.load(src.path)


def write_table(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "error",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    if format not in FORMATS:
        raise ValueError(f"unsupported format {format!r}; one of {FORMATS}")
    writer = df.write.format(format).mode(mode)
    opts = {**_WRITE_DEFAULTS[format], **(options or {})}
    if opts:
        writer = writer.options(**opts)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


class SourceRegistry:
    """Maps table names to external sources and exposes them to SQL —
    the engine-facing analog of the reference's per-database file
    catalog (databases/branches resolve to storage paths there;
    format+path here)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._sources: dict[str, TableSource] = {}

    def register(self, src: TableSource) -> DataFrame:
        df = read_table(self.spark, src)
        df.createOrReplaceTempView(src.name)
        self._sources[src.name] = src
        return df

    def get(self, name: str) -> TableSource:
        return self._sources[name]

    def names(self) -> list[str]:
        return sorted(self._sources)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a BUCKETED managed table: rows hash-partitioned into
    `n_buckets` files per partition by `bucket_col`, optionally sorted
    within buckets.

    This is the Spark answer to 'pre-partition the fact tables on the
    join key': two tables bucketed the same way join with ZERO exchange
    (and with sortBy, zero sort) — the shuffle that normally dominates a
    100 TB fact-fact join happens once at write time and is amortized
    over every subsequent join/aggregation on that key. The reference
    has no analog (single-node B-tree; SURVEY §2.B scans).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)

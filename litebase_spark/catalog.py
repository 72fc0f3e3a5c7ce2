"""Query catalog: the declared-operator registry behind __spark_entry__.

Every operator family from SURVEY.md §2 registers one or more named
queries here.  Each entry carries

  * ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first
    implementation (DataFrame API, Catalyst-optimizable), and
  * ``oracle`` — equivalent ANSI SQL for the DuckDB oracle (t2 gate), or
    None for genuinely non-SQL-expressible operators (the driver then
    records a weaker rows-only check).

Determinism contract with the oracle (FIXTURES.md §"Oracle protocol"):
  * computed double aggregates go through exact DECIMAL arithmetic and are
    cast to double (identical bits in both engines), via the helpers below;
  * ties in window functions are broken by a unique key;
  * timestamps are UTC/naive in both engines.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable:
    """Decorator registering a query in the catalog."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, description, tags)
        return fn

    return deco


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from one
    footer on the driver.

    Inference without schema merging reads a single footer, but Spark
    still runs it as a parallel job: ~95 ms per table against ~20 ms
    here, on a warm local session on a 4-core host. This reads the
    footer with parquet's ``ParquetFileReader`` and converts it with
    Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and a
    converter built from the session's SQLConf, so ``nanosAsLong``, the INT96/binary
    settings and Spark's own row metadata are honoured exactly as
    inference honours them. For a directory it reads the file inference
    reads: the first data file by path, skipping ``_`` and ``.`` names
    (no partition discovery: a directory without data files directly
    inside it is an error)."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if fs.getFileStatus(p).isDirectory():
        files = sorted(
            st.getPath().toString()
            for st in fs.listStatus(p)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )
        if not files:
            raise FileNotFoundError(f"no parquet data file directly under {path}")
        p = jvm.org.apache.hadoop.fs.Path(files[0])
    pq = jvm.org.apache.parquet
    footer = pq.hadoop.ParquetFileReader.readFooter(
        conf, p, pq.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        pq.hadoop.Footer(p, footer),
        parquet.ParquetToSparkSchemaConverter(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (parquet scan; Catalyst will
    push filters/projections down into the scan).

    The table is opened with the schema ``parquet_schema`` reads from its
    footer on the driver, so opening it runs no Spark job."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as int64 nanos.
        # Truncate to microseconds (integer division — double math would
        # lose precision at 1e18) to match DuckDB's ns->us handling.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def spread(df: DataFrame, min_parts: int = 8) -> DataFrame:
    """Parallelism fix for single-row-group fixture scans ONLY: round-robin
    repartition when the scan yields fewer than ``min_parts`` partitions.

    At real input sizes the scan already has enough partitions and an
    unconditional ``repartition()`` here would pay a pointless
    full-corpus exchange before the first real stage (measured 2x on
    knn_cosine_vectorized at the sf1 point). Never use this as an
    optimizer barrier — barriers must be unconditional to be barriers."""
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register the fixture tables as temp views for spark.sql() use."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Oracle-exact numeric helpers.
#
# Summing doubles is order-dependent; Spark and DuckDB would disagree in the
# low bits.  The fixtures' money columns are 2-decimal values, so we compute
# exactly (associatively) and only convert to double at the end — both
# engines then produce bit-identical doubles.  A final round() guards the
# (rare) 1-ulp difference in the exact→double conversion.
#
# Exact representation: LONG fixed-point (value * 100 as int64), the same
# trick DuckDB uses internally for DECIMAL.  sum(long) stays inside
# whole-stage codegen with a primitive accumulator; sum(decimal(18,2))
# widens to decimal(28,2), a non-compact BigDecimal buffer, and measures
# ~2x slower at sf0.1.  Value-range contract: |sum| < 2^63 cent-units
# (9.2e16 dollars at scale 2) — ample at 100 TB for money columns; for a
# wider domain switch `fp`/`dsum` back to the decimal forms (dec() below
# is kept for expression sites that need decimal scale growth).
# ---------------------------------------------------------------------------

DEC = "decimal(18,2)"


def fp(col, digits: int = 2) -> Column:
    """Long fixed-point: value scaled by 10^digits, rounded HALF_UP
    (half away from zero, both signs).

    Exact HALF_UP for EVERY double with |x*10^digits| < 2^52 — not just
    <=digits-decimal money columns (full-precision columns like
    events.value route through here too).

    Implemented as sign-split floor(|x| + 0.5) instead of F.round():
    Spark's Round on DoubleType routes through BigDecimal per row —
    replacing it cut TPC-H Q1 (4 money columns x 6M rows) from 0.64 to
    0.37 s at the sf1 point.  floor(|x| + 0.5) alone diverges from
    HALF_UP on exactly one class: |x| within 1 ulp BELOW a .5 boundary,
    where the IEEE add rounds |x|+0.5 UP to the boundary
    (0.49999999999999994 + 0.5 == 1.0) — an over-round by exactly 1.
    Under-rounding is impossible (|x| >= k-0.5 implies the nearest
    double to |x|+0.5 is >= k).  So one integer-vs-double comparison
    repairs it exactly: if r - 0.5 > |x| then r over-rounded, use r-1
    (r - 0.5 is IEEE-exact for |r| < 2^53).  All branches stay in
    whole-stage codegen; no per-row BigDecimal.  Cost (interleaved x5
    A/B on the 4-money-column Q1 aggregate at sf1): ~0.51 -> ~0.57 s
    steady-state, ~10% on the densest fp consumer — vs the 2x the
    BigDecimal Round costs, and it deletes the '<=digits-decimal
    inputs only' precondition the round-9 advice flagged."""
    c = col if isinstance(col, Column) else F.col(col)
    x = c * (10 ** digits)
    ax = F.abs(x)
    r = F.floor(ax + F.lit(0.5))
    r = F.when(r.cast("double") - F.lit(0.5) > ax, r - 1).otherwise(r)
    return F.when(x >= 0, r).otherwise(-r).cast("long")


def dsum(col, scale: int = 2) -> Column:
    """Exact sum of a 2-decimal double column, returned as double."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.round(F.sum(fp(c)) / 100.0, scale)


def dsum_expr(col: Column, scale: int = 4, unit: float = 10000.0) -> Column:
    """Exact sum of a fixed-point product expression, as double.

    Caller builds `col` out of `fp()` operands so the arithmetic stays
    exact in long (e.g. revenue = fp(price) * (100 - fp(disc)), unit 1e4)."""
    return F.round(F.sum(col) / F.lit(unit), scale)


def davg(col, scale: int = 6) -> Column:
    """Exact-sum average of a 2-decimal double column, as double."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.round((F.sum(fp(c)) / 100.0) / F.count(c), scale)


def dec(col) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    return c.cast(DEC)


# Matching SQL fragments for the DuckDB side.
def SQL_DSUM(expr: str, scale: int = 2) -> str:
    return f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE), {scale})"


def SQL_DAVG(expr: str, scale: int = 6) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"
        f" / COUNT({expr}), {scale})"
    )

"""catalog.parquet_schema / catalog.load: opening a table reads its
footer on the driver and must give exactly the schema Spark's own
inference gives, without running a Spark job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructField, StructType, TimestampType

from litebase_spark.catalog import TABLES, load, parquet_schema


@pytest.mark.parametrize("table", TABLES)
def test_load_schema_matches_inference(spark, sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    inferred = spark.read.parquet(path).schema
    assert parquet_schema(spark, path) == inferred
    if table == "events" and inferred["ts"].dataType.simpleString() == "bigint":
        # load's nanos -> microsecond timestamp conversion
        inferred = StructType([
            StructField("ts", TimestampType(), True) if f.name == "ts" else f
            for f in inferred
        ])
    assert load(spark, sf_dir, table).schema == inferred


def test_multi_part_directory_written_by_spark(spark, sf_dir, tmp_path):
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(3).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    inferred = spark.read.parquet(str(tmp_path / "orders.parquet")).schema
    assert parquet_schema(spark, str(tmp_path / "orders.parquet")) == inferred
    df = load(spark, str(tmp_path), "orders")
    assert df.schema == inferred
    assert df.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_directory_reads_the_file_inference_reads(spark, tmp_path):
    """Without schema merging Spark reads the first data file by path;
    `_` and `.` names are not data files even when they sort first."""
    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(pa.table({"a": [1], "hidden": ["x"]}), d / "_a.parquet")
    pq.write_table(pa.table({"a": [1], "dot": [1.0]}), d / ".a.parquet")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), d / "a.parquet")
    pq.write_table(pa.table({"a": [2], "c": [2.5]}), d / "b.parquet")
    got = parquet_schema(spark, str(d))
    assert got == spark.read.parquet(str(d)).schema
    assert got.fieldNames() == ["a", "b"]


def test_directory_without_data_files_fails(spark, tmp_path):
    (tmp_path / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError):
        parquet_schema(spark, str(tmp_path))


def test_nanos_follow_the_session_conf(spark, sf_dir, tmp_path):
    """The converter is built from the session's SQLConf at call time,
    like inference: TIMESTAMP(NANOS) is a BIGINT under nanosAsLong and
    the same PARQUET_TYPE_ILLEGAL error without it."""
    from pyspark.errors import AnalysisException

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.set_column(1, "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        got = parquet_schema(spark, path)
        assert got == spark.read.parquet(path).schema
        assert got["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            parquet_schema(spark, path)
    finally:
        spark.conf.set(key, old)


def test_opening_a_table_runs_no_spark_job(spark, sf_dir):
    from litebase_spark.engine import Engine

    dag = spark._jsparkSession.sparkContext().dagScheduler()
    spark.range(1).count()  # the counter starts after any first job
    before = dag.nextJobId()
    for t in TABLES:
        load(spark, sf_dir, t)
    Engine(spark).register_parquet_dir(sf_dir, TABLES)
    assert dag.nextJobId() == before

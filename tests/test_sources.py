"""Source/sink connector tests: format round-trips, explicit-schema
enforcement, partitioned writes + partition pruning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from litebase_spark.catalog import load
from litebase_spark.sources.io import (
    SourceRegistry,
    TableSource,
    read_table,
    write_table,
)


def canon(df, key):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_all_formats(spark, sf_dir, tmp_path, fmt):
    src = load(spark, sf_dir, "nation")
    path = str(tmp_path / fmt)
    write_table(src, path, format=fmt, mode="overwrite")
    back = read_table(
        spark,
        TableSource("nation_rt", path, fmt, schema=src.schema),
    )
    assert canon(back, "n_nationkey") == canon(src, "n_nationkey")


def test_csv_without_schema_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, TableSource("x", str(tmp_path), "csv"))


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_table(
        orders, path, mode="overwrite", partition_by=["o_year"]
    )
    back = spark.read.parquet(path)
    one_year = back.filter(F.col("o_year") == 1996)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the 1996 filter must be a PartitionFilter on the
    # scan, not a post-scan Filter over all years
    assert "PartitionFilters: [" in plan and "o_year" in plan.split(
        "PartitionFilters"
    )[1][:200]
    want = orders.filter(F.col("o_year") == 1996).count()
    assert one_year.count() == want


def test_registry_exposes_sql(spark, sf_dir, tmp_path):
    reg = SourceRegistry(spark)
    nation = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    write_table(nation, path, format="csv", mode="overwrite")
    reg.register(TableSource("nation_ext", path, "csv", schema=nation.schema))
    got = spark.sql(
        "SELECT count(*) AS n FROM nation_ext WHERE n_regionkey >= 0"
    ).collect()[0]["n"]
    assert got == nation.count()
    assert reg.names() == ["nation_ext"]


def test_optimize_reduces_files(spark, sf_dir):
    """Engine.optimize rewrites a 24-file store table as fewer files in
    one new version, with the same rows."""
    from litebase_spark.engine import Engine

    eng = Engine(spark=spark)
    orders = load(spark, sf_dir, "orders")
    eng.sql("DROP TABLE IF EXISTS fragmented")
    eng.sql(f"CREATE TABLE fragmented ({orders.schema.toDDL()}) USING PARQUET")
    try:
        eng.commit({"fragmented": orders.repartition(24)})  # 24 tiny files
        before, after = eng.optimize("fragmented")
        assert before == 24 and after < 24
        back = spark.table("fragmented")
        assert back.count() == orders.count()
        assert set(back.columns) == set(orders.columns)
        assert canon(back.select(orders.columns), None) == canon(orders, None)
    finally:
        eng.sql("DROP TABLE IF EXISTS fragmented")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from litebase_spark.catalog import load
    from litebase_spark.sources.io import write_bucketed
    from pyspark.sql import functions as F

    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(l, "b_lineitem", "l_orderkey", n_buckets=8)
    write_bucketed(o, "b_orders", "o_orderkey", n_buckets=8)
    try:
        bl = spark.table("b_lineitem")
        bo = spark.table("b_orders")
        # disable auto-broadcast so the join would otherwise shuffle
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
            plan = j._jdf.queryExecution().executedPlan().toString()
            # bucketed-bucketed equi join: SortMergeJoin with NO Exchange
            assert "Exchange" not in plan, plan
            # and results match the plain join
            plain = l.join(o, l.l_orderkey == o.o_orderkey)
            assert j.count() == plain.count()
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_zorder_buckets_localize_both_dimensions(spark, sf_dir):
    """Z-order buckets bound BOTH dimensions' spread; a lexicographic
    key localizes only its leading column. Compare mean per-bucket
    spread of the trailing dimension."""
    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY, load
    from pyspark.sql import functions as F

    z = REGISTRY["layout_zorder"].builder(spark, sf_dir).collect()
    z_spread = sum(r["max_price_band"] - r["min_price_band"] for r in z) / len(z)

    o = load(spark, sf_dir, "orders")
    lex = (
        o.select(
            F.expr("(o_custkey % 256)").alias("xd"),
            F.expr(
                "(CAST(FLOOR(o_totalprice / 2500.0) AS BIGINT) % 256)"
            ).alias("yd"),
        )
        # lexicographic layout: bucket = leading column's high bits
        .groupBy(F.expr("xd >> 4").alias("bucket"))
        .agg((F.max("yd") - F.min("yd")).alias("spread"))
        .collect()
    )
    lex_spread = sum(r["spread"] for r in lex) / len(lex)
    # Z-buckets must localize the price dimension far better than a
    # custkey-leading sort key does (which leaves it near full-domain).
    assert z_spread < lex_spread / 2, (z_spread, lex_spread)


def test_zorder_cluster_negative_values_valid_layout(spark, tmp_path):
    """zorder_cluster must produce a valid clustered layout for columns
    with NEGATIVE values (round-2 used sign-preserving %, which fed
    negative operands into the bit interleave)."""
    from litebase_spark.operators.layout import zorder_cluster
    from pyspark.sql import functions as F

    df = spark.range(-500, 500).select(
        F.col("id").alias("x"), (F.lit(-3) * F.col("id")).alias("y")
    )
    out = str(tmp_path / "zo")
    zorder_cluster(df, ("x", "y"), n_files=8).write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("x").distinct().count() == 1000
    # layout sanity: with pmod dims every zkey lands in [0, 2^16); the
    # old signed % made z-keys collide at a handful of values
    zkeys = back.select(
        F.expr(
            "pmod(x, 256)"
        ).alias("xd")
    )
    assert zkeys.filter(F.col("xd") < 0).count() == 0


def test_optimize_zorder_compacts_and_clusters(spark):
    """Engine.optimize(zorder) merges small files AND leaves each output
    file covering a narrow rectangle of the key space (per-file parquet
    min/max verified via DuckDB's footer metadata)."""
    import duckdb

    from litebase_spark.engine import Engine

    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS st_zopt")
    eng.sql("CREATE TABLE st_zopt (x INT, y INT) USING PARQUET")
    try:
        # 16 small shuffled files over a 2-d key space
        df = (
            spark.range(0, 20000)
            .select(
                F.pmod(F.hash(F.col("id")), F.lit(997)).alias("x"),
                F.pmod(F.hash(F.col("id") * 7 + 1), F.lit(997)).alias("y"),
            )
            .repartition(16)
        )
        eng.commit({"st_zopt": df})
        con = duckdb.connect()

        def spreads():
            out = eng.store.head_dir("st_zopt")
            return con.sql(
                f"""
                SELECT file_name,
                       MAX(CASE WHEN path_in_schema = 'x'
                           THEN stats_max::BIGINT - stats_min::BIGINT END) AS xs,
                       MAX(CASE WHEN path_in_schema = 'y'
                           THEN stats_max::BIGINT - stats_min::BIGINT END) AS ys
                FROM parquet_metadata('{out}/*.parquet')
                GROUP BY file_name
                """
            ).fetchall()

        base = spreads()
        base_x = sum(r[1] for r in base) / len(base)
        base_y = sum(r[2] for r in base) / len(base)
        before, after = eng.optimize(
            "st_zopt", zorder_cols=("x", "y"), target_file_bytes=24 * 1024
        )
        assert before == 16 and 2 <= after < 16
        back = spark.table("st_zopt")
        assert back.count() == 20000
        stats = spreads()
        mean_x = sum(r[1] for r in stats) / len(stats)
        mean_y = sum(r[2] for r in stats) / len(stats)
        # unsorted files span ~the whole domain in both dims; z-range files
        # localize both on average (boundary files legitimately straddle
        # quadrants — z-order is approximate clustering, as in Delta
        # OPTIMIZE ZORDER), and at least one file is a tight quadrant
        assert mean_x < 0.72 * base_x and mean_y < 0.72 * base_y, (
            (mean_x, base_x),
            (mean_y, base_y),
        )
        assert any(r[1] <= 510 and r[2] <= 510 for r in stats), stats
    finally:
        eng.sql("DROP TABLE IF EXISTS st_zopt")


def test_versioned_python_datasource(spark, sf_dir, tmp_path):
    """format('versioned'): version pinning and time travel through the
    standard reader API via the Spark 4 Python DataSource, one input
    partition per manifest file."""
    import time as _time

    from litebase_spark.snapshots import VersionedStore
    from litebase_spark.sources.versioned_source import VersionedDataSource

    vs = VersionedStore(spark, str(tmp_path / "vds"))
    nation = load(spark, sf_dir, "nation")
    vs.write("n", nation.filter(F.col("n_nationkey") < 10))
    t_v1 = _time.time()
    _time.sleep(0.01)
    vs.write("n", nation.filter(F.col("n_nationkey") >= 10), mode="append")
    spark.dataSource.register(VersionedDataSource)

    def rd(**opts):
        r = (
            spark.read.format("versioned")
            .option("root", str(tmp_path / "vds"))
            .option("table", "n")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert rd().count() == nation.count()  # head
    assert rd(version=1).count() == nation.filter(F.col("n_nationkey") < 10).count()
    assert rd(timestamp=t_v1).count() == nation.filter(
        F.col("n_nationkey") < 10
    ).count()
    # column pruning path works and values round-trip
    got = sorted(r["n_name"] for r in rd(version=1).select("n_name").collect())
    want = sorted(
        r["n_name"]
        for r in nation.filter(F.col("n_nationkey") < 10).collect()
    )
    assert got == want


def test_versioned_datasource_write_roundtrip(spark, sf_dir, tmp_path):
    """df.write.format('versioned'): tasks write immutable files, the
    driver commits one manifest version; append/overwrite modes flow
    into the same log the reader and VersionedStore resolve."""
    from litebase_spark.snapshots import VersionedStore
    from litebase_spark.sources.versioned_source import VersionedDataSource

    spark.dataSource.register(VersionedDataSource)
    root = str(tmp_path / "wds")
    nation = load(spark, sf_dir, "nation")

    def wr(df, mode):
        (
            df.write.format("versioned")
            .option("root", root)
            .option("table", "n")
            .mode(mode)
            .save()
        )

    wr(nation.filter(F.col("n_nationkey") < 10), "overwrite")
    wr(nation.filter(F.col("n_nationkey") >= 10), "append")
    vs = VersionedStore(spark, root)
    assert vs.read("n").count() == nation.count()
    # the append's files joined the head's directory, which holds
    # exactly the version's files
    head = vs.head_dir("n")
    assert head and {os.path.dirname(f) for f in vs.files("n")} == {head}
    assert vs.read("n", version=1).count() == nation.filter(
        F.col("n_nationkey") < 10
    ).count()
    got = sorted(r["n_name"] for r in vs.read("n").collect())
    assert got == sorted(r["n_name"] for r in nation.collect())
    wr(nation.limit(3), "overwrite")
    assert vs.read("n").count() == 3
    assert vs.read("n", version=2).count() == nation.count()  # time travel


def test_versioned_source_reads_a_version_with_no_files(spark):
    """A table created empty through Engine.sql commits a version with no
    files; format('versioned') reads it as 0 rows with the schema the
    store recorded."""
    from litebase_spark.engine import Engine
    from litebase_spark.sources.versioned_source import VersionedDataSource

    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS vs_empty")
    eng.sql("CREATE TABLE vs_empty (k BIGINT, s STRING) USING PARQUET")
    try:
        assert eng.store.files("vs_empty") == []
        spark.dataSource.register(VersionedDataSource)
        df = (
            spark.read.format("versioned")
            .option("root", eng.store.root)
            .option("table", "vs_empty")
            .load()
        )
        assert df.schema == eng.store.schema("vs_empty")
        assert df.collect() == []
    finally:
        eng.sql("DROP TABLE IF EXISTS vs_empty")

"""Snapshot/PITR (A21), batch queries (A24), statement cache (A6), and
introspection (A13/M3) tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from litebase_spark.catalog import load
from litebase_spark.engine import Engine
from litebase_spark.snapshots import SnapshotManager


@pytest.fixture()
def engine(spark):
    return Engine(spark=spark)


def test_snapshot_restore_roundtrip(spark, sf_dir, tmp_path):
    mgr = SnapshotManager(spark, str(tmp_path / "snaps"))
    nation = load(spark, sf_dir, "nation")

    s1 = mgr.snapshot({"nation": nation}, label="before-change")
    t_between = time.time()
    changed = nation.withColumn("n_name", F.upper("n_name"))
    s2 = mgr.snapshot({"nation": changed}, label="after-change")

    assert [s.snapshot_id for s in mgr.list_snapshots()] == [
        s1.snapshot_id,
        s2.snapshot_id,
    ]
    # point-in-time resolution: between the two snapshots -> s1
    assert mgr.snapshot_at(t_between).snapshot_id == s1.snapshot_id

    snap, restored = mgr.restore_at(t_between, "restored_ns")
    assert snap.snapshot_id == s1.snapshot_id and restored == ["nation"]
    back = spark.table("`restored_ns`.`nation`")
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )
    spark.sql("DROP DATABASE IF EXISTS `restored_ns` CASCADE")


def test_snapshot_at_before_first_raises(spark, sf_dir, tmp_path):
    mgr = SnapshotManager(spark, str(tmp_path / "snaps2"))
    with pytest.raises(LookupError):
        mgr.snapshot_at(time.time())


def test_sql_batch_sequential(engine, spark, sf_dir):
    load(spark, sf_dir, "region").createOrReplaceTempView("region")
    results = engine.sql_batch(
        [
            "SELECT count(*) AS n FROM region",
            ("SELECT r_name FROM region WHERE r_regionkey = ? ", [0]),
        ]
    )
    assert results[0].rows[0]["n"] == 5
    assert results[1].row_count == 1


def test_prepared_statement_cache(engine, spark, sf_dir):
    load(spark, sf_dir, "region").createOrReplaceTempView("region")
    stmt = "SELECT count(*) AS n FROM region"
    df1 = engine.prepared(stmt)
    df2 = engine.prepared(stmt)
    assert df1 is df2  # same analyzed plan object reused
    with pytest.raises(ValueError):
        engine.prepared("DROP TABLE region")


def test_explain_and_describe(engine, spark, sf_dir):
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    plan = engine.explain(
        "SELECT n_name FROM nation WHERE n_nationkey = 3", mode="formatted"
    )
    assert "Physical Plan" in plan
    cols = {r["col_name"] for r in engine.describe("nation")}
    assert {"n_nationkey", "n_name", "n_regionkey"} <= cols


def test_multimodal_resize_and_frames(spark, sf_dir):
    from litebase_spark.operators.multimodal import (
        attach_media,
        resize_media,
        sample_frames,
    )

    media = attach_media(load(spark, sf_dir, "documents"))
    n_docs = media.count()

    resized = resize_media(media, 16, 8)
    rows = resized.limit(5).collect()
    assert all(len(r["media"]) == 16 * 8 for r in rows)
    assert all(
        r["meta"]["target_w"] == 16 and r["meta"]["n_bytes"] == 128 for r in rows
    )
    assert resized.count() == n_docs  # 1:1 contract

    frames = sample_frames(media, n_frames=4)
    assert frames.count() == 4 * n_docs  # 1:N contract
    per_doc = frames.groupBy("doc_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_doc] == [4]


# -- VersionedStore: incremental manifest snapshots (A21 scale path) --------


def _parquet_files(root):
    import os

    out = []
    for dirpath, _, files in os.walk(root):
        out += [f"{dirpath}/{f}" for f in files if f.endswith(".parquet")]
    return sorted(out)


def test_versioned_snapshot_writes_no_data(spark, sf_dir, tmp_path):
    """Snapshotting pins versions with ONE manifest JSON: the data-file
    set under the store is bit-identical before and after — no rewrite
    for unchanged tables (the O(data) flaw of full-copy snapshots)."""
    from litebase_spark.snapshots import VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "vstore"))
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    vs.write("nation", nation)
    vs.write("region", region)
    before = _parquet_files(str(tmp_path / "vstore"))
    s1 = vs.snapshot(label="pin-both")
    s2 = vs.snapshot(label="pin-again")
    assert _parquet_files(str(tmp_path / "vstore")) == before
    assert s1.snapshot_id != s2.snapshot_id
    assert vs.read("nation").count() == nation.count()


def test_versioned_append_reuses_prior_files(spark, sf_dir, tmp_path):
    from litebase_spark.snapshots import VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "vstore"))
    nation = load(spark, sf_dir, "nation")
    vs.write("nation", nation.filter(F.col("n_nationkey") < 10))
    v1_files = set(vs.files("nation"))
    vs.write("nation", nation.filter(F.col("n_nationkey") >= 10), mode="append")
    v2_files = set(vs.files("nation"))
    assert v1_files < v2_files  # appends extend, never rewrite
    assert vs.read("nation").count() == nation.count()
    assert vs.read("nation", version=1).count() == nation.filter(
        F.col("n_nationkey") < 10
    ).count()


def test_versioned_pitr_and_zero_copy_restore(spark, sf_dir, tmp_path):
    from litebase_spark.snapshots import VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "vstore"))
    nation = load(spark, sf_dir, "nation")
    vs.write("nation", nation)
    vs.snapshot(label="v1")
    t_between = time.time()
    time.sleep(0.01)
    vs.write("nation", nation.limit(5))
    vs.snapshot(label="v2")
    before = _parquet_files(str(tmp_path / "vstore"))
    restored = vs.restore_at(t_between, "pitr")
    assert restored == ["nation"]
    # zero-copy: restore registered views, wrote nothing
    assert _parquet_files(str(tmp_path / "vstore")) == before
    back = spark.table("pitr__nation")
    assert back.count() == nation.count()  # pre-overwrite state
    assert vs.read("nation").count() == 5  # head unaffected by restore


def test_versioned_branch_diverges_and_vacuum(spark, sf_dir, tmp_path):
    from litebase_spark.snapshots import VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "vstore"))
    nation = load(spark, sf_dir, "nation")
    vs.write("nation", nation)
    before = _parquet_files(str(tmp_path / "vstore"))
    assert vs.create_branch("dev") == ["nation"]
    # branch fork is metadata-only
    assert _parquet_files(str(tmp_path / "vstore")) == before
    vs.write("nation", nation.limit(5), namespace="dev", mode="append")
    assert vs.read("nation", namespace="dev").count() == nation.count() + 5
    assert vs.read("nation").count() == nation.count()  # parent untouched
    # main overwrites; v1 files remain live as part of dev's head
    vs.write("nation", nation.limit(3))
    deleted = vs.vacuum()
    assert deleted == []
    vs.write("nation", nation.limit(2), namespace="dev")  # dev overwrites
    assert len(vs.vacuum()) > 0  # now v1 files are unreachable
    assert vs.read("nation").count() == 3
    assert vs.read("nation", namespace="dev").count() == 2


def test_sql_time_travel_over_versioned_store(spark, sf_dir, tmp_path):
    """Delta-dialect time travel through Engine.sql: VERSION AS OF and
    TIMESTAMP AS OF resolve to pinned file lists, zero-copy."""
    from litebase_spark.snapshots import VersionedStore

    eng = Engine(spark=spark)
    vs = VersionedStore(spark, str(tmp_path / "tt"))
    eng.attach_versioned_store(vs)
    nation = load(spark, sf_dir, "nation")
    vs.write("nation_tt", nation)
    t_v1 = time.time()
    time.sleep(0.01)
    vs.write("nation_tt", nation.limit(5))
    # current head also readable through the store
    assert vs.read("nation_tt").count() == 5
    r = eng.sql("SELECT count(*) AS n FROM nation_tt VERSION AS OF 1")
    assert r.rows[0].n == nation.count()
    r = eng.sql("SELECT count(*) AS n FROM nation_tt VERSION AS OF 2")
    assert r.rows[0].n == 5
    r = eng.sql(
        f"SELECT count(*) AS n FROM nation_tt TIMESTAMP AS OF '{t_v1}'"
    )
    assert r.rows[0].n == nation.count()
    # inside a string literal the spelling is text, not a table
    # reference; outside it, the same statement still pins the version
    r = eng.sql("SELECT 'x VERSION AS OF 1' AS s")
    assert r.rows[0].s == "x VERSION AS OF 1"
    r = eng.sql(
        "SELECT 'nation_tt VERSION AS OF 1' AS s, count(*) AS n "
        "FROM nation_tt VERSION AS OF 2"
    )
    assert tuple(r.rows[0]) == ("nation_tt VERSION AS OF 1", 5)


def test_backup_archive_roundtrip(spark, sf_dir, tmp_path):
    """tar.gz backup of a pinned snapshot restores into a fresh store
    with identical data (reference pkg/backups/backup.go analog)."""
    from litebase_spark.snapshots import VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "src"))
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    vs.write("nation", nation)
    vs.write("region", region)
    vs.snapshot(label="backup-point")
    vs.write("nation", nation.limit(3))  # post-snapshot divergence

    archive = str(tmp_path / "backup.tar.gz")
    assert vs.backup_archive(archive) == archive

    restored = VersionedStore.restore_archive(
        spark, archive, str(tmp_path / "dst")
    )
    # backup captured the snapshot (full nation), not the later head
    assert restored.read("nation").count() == nation.count()
    assert restored.read("region").count() == region.count()
    assert restored.tables() == ["nation", "region"]
    # restored store has its own timeline: writes work
    restored.write("nation", nation.limit(2))
    assert restored.read("nation").count() == 2


def test_changes_cdf_append_and_overwrite(spark, sf_dir, tmp_path):
    """File-level change data feed: appends surface exactly the new
    rows as inserts; an overwrite yields old-as-delete + new-as-insert.
    Pure manifest set algebra — no data copied."""
    from litebase_spark.snapshots import VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "cdf"))
    nation = load(spark, sf_dir, "nation")
    vs.write("n", nation.filter(F.col("n_nationkey") < 10))
    vs.write("n", nation.filter(F.col("n_nationkey") >= 10), mode="append")
    d = vs.changes("n", 1, 2)
    assert d.filter(F.col("_change_type") == "delete").count() == 0
    got = {r["n_nationkey"] for r in d.collect()}
    assert got == {
        r["n_nationkey"]
        for r in nation.filter(F.col("n_nationkey") >= 10).collect()
    }
    vs.write("n", nation.limit(3))  # overwrite (v3)
    d = vs.changes("n", 2, 3)
    assert d.filter(F.col("_change_type") == "insert").count() == 3
    assert (
        d.filter(F.col("_change_type") == "delete").count() == nation.count()
    )


def test_incremental_agg_view_reads_only_delta(spark, sf_dir, tmp_path):
    """Incremental refresh after an append aggregates ONLY the appended
    files and matches a full recompute."""
    from litebase_spark.snapshots import IncrementalAggView, VersionedStore

    vs = VersionedStore(spark, str(tmp_path / "ivm"))
    nation = load(spark, sf_dir, "nation")
    vs.write("n", nation.filter(F.col("n_nationkey") < 10))
    view = IncrementalAggView(vs, "by_region", "n", "n_regionkey", "n_nationkey")
    assert view.refresh()["mode"] == "full"
    assert view.refresh()["mode"] == "noop"
    vs.write("n", nation.filter(F.col("n_nationkey") >= 10), mode="append")
    # the delta scan must touch only version-2 files
    delta_files = set(vs.changes("n", 1, 2).drop("_change_type").inputFiles())
    v1_files = {f"file:{p}" for p in vs.files("n", 1)}
    assert not (delta_files & v1_files)
    assert view.refresh()["mode"] == "incremental"
    got = {
        r["n_regionkey"]: (r["n"], r["total"]) for r in view.read().collect()
    }
    want = {
        r["n_regionkey"]: (r["n"], r["total"])
        for r in nation.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_nationkey").alias("total"))
        .collect()
    }
    assert got == want
    # overwrite invalidates: falls back to full recompute
    vs.write("n", nation.limit(5))
    assert view.refresh()["mode"] == "full"
    assert view.read().agg(F.sum("n")).collect()[0][0] == 5


def test_versioned_store_streams_appends_incrementally(spark, sf_dir, tmp_path):
    """The store is a streaming CDC source: a checkpointed availableNow
    run delivers the initial files; after an append, the next run with
    the SAME checkpoint delivers ONLY the appended rows."""
    from litebase_spark.snapshots import VersionedStore, versioned_read_stream

    vs = VersionedStore(spark, str(tmp_path / "cdc"))
    nation = load(spark, sf_dir, "nation")
    vs.write("n", nation.filter(F.col("n_nationkey") < 10))
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            versioned_read_stream(vs, "n")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).count()

    n_lo = nation.filter(F.col("n_nationkey") < 10).count()
    assert drain() == n_lo
    vs.write("n", nation.filter(F.col("n_nationkey") >= 10), mode="append")
    # same checkpoint: only the appended files are delivered on top
    assert drain() == nation.count()
    assert drain() == nation.count()  # nothing new -> no re-delivery

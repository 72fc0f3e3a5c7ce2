"""Versioned store and PITR (A21), batch queries (A24), statement cache
(A6), and introspection (A13/M3) tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from litebase_spark.catalog import load
from litebase_spark.engine import Engine
from litebase_spark.snapshots import read_manifest


@pytest.fixture()
def engine(spark):
    return Engine(spark=spark)


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
    assert s1["snapshot_id"] != s2["snapshot_id"]
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


def test_concurrent_publishes_lose_no_version(tmp_path):
    """Commits from several threads into one namespace each land, with
    one version number per commit of a table, also when the threads use
    different store objects on one root: publish reads, changes and
    replaces the manifest under the root's lock."""
    import sys
    import threading

    from litebase_spark.snapshots import StagedVersion, VersionedStore

    stores = [VersionedStore(None, str(tmp_path / "vstore")) for _ in range(2)]

    def work(i):
        for _ in range(20):
            stores[i % 2].publish([StagedVersion(
                f"t{i % 3}", "main", "overwrite", None, [])])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert stores[0].current_versions() == {"t0": 80, "t1": 80, "t2": 80}
    for log in read_manifest(stores[0].root, "main").values():
        assert [e["version"] for e in log] == list(range(1, 81))


def test_manifest_grows_linearly_with_appends(tmp_path):
    """An append's log entry lists only the files it added: after 300
    one-file appends the manifest holds each file once, and every
    version still resolves to its whole file list in the head's
    directory."""
    import os

    from litebase_spark.snapshots import VersionedStore, _log_path

    vs = VersionedStore(None, str(tmp_path / "vstore"))

    def commit(i, append):
        path = vs.new_dir("t", append=append)
        os.makedirs(path)
        open(os.path.join(path, f"part-{i:04d}.parquet"), "w").close()
        vs.publish([vs.stage_dir("t", path, None, append)])

    n = 300
    commit(0, append=False)
    for i in range(1, n + 1):
        commit(i, append=True)
    size = os.path.getsize(_log_path(vs.root, "main"))
    per_entry = size / (n + 1)
    assert per_entry < 400, per_entry  # listing every prior file: ~20 KB
    head = vs.head_dir("t")
    assert vs.files("t") == [os.path.join(head, f"part-{i:04d}.parquet")
                             for i in range(n + 1)]
    assert len(vs.files("t", version=10)) == 10
    # the staging directories are gone; the head's holds every file
    assert os.listdir(os.path.dirname(head)) == [os.path.basename(head)]
    assert len(os.listdir(head)) == n + 1


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


def test_sql_time_travel_over_versioned_store(spark, tmp_path):
    """Delta-dialect time travel through Engine.sql: VERSION AS OF and
    TIMESTAMP AS OF resolve the versions SQL writes committed to pinned
    file lists, zero-copy."""
    eng = Engine(spark=spark, store_root=str(tmp_path / "tt"))
    eng.sql("DROP TABLE IF EXISTS nation_tt")
    eng.sql("CREATE TABLE nation_tt (k BIGINT, v STRING) USING PARQUET")
    eng.sql("INSERT INTO nation_tt VALUES " + ", ".join(
        f"({i}, 'n{i}')" for i in range(25)))
    v_full = eng.store.current_versions()["nation_tt"]
    t_full = time.time()
    time.sleep(0.01)
    eng.sql("DELETE FROM nation_tt WHERE k >= 5")
    try:
        assert eng.sql("SELECT count(*) AS n FROM nation_tt").rows[0].n == 5
        r = eng.sql(f"SELECT count(*) AS n FROM nation_tt VERSION AS OF {v_full}")
        assert r.rows[0].n == 25
        r = eng.sql("SELECT count(*) AS n FROM nation_tt VERSION AS OF "
                    f"{v_full + 1}")
        assert r.rows[0].n == 5
        r = eng.sql(
            f"SELECT count(*) AS n FROM nation_tt TIMESTAMP AS OF '{t_full}'"
        )
        assert r.rows[0].n == 25
        # inside a string literal the spelling is text, not a table
        # reference; outside it, the same statement still pins the version
        r = eng.sql("SELECT 'x VERSION AS OF 1' AS s")
        assert r.rows[0].s == "x VERSION AS OF 1"
        r = eng.sql(
            "SELECT 'nation_tt VERSION AS OF 1' AS s, count(*) AS n "
            f"FROM nation_tt VERSION AS OF {v_full + 1}"
        )
        assert tuple(r.rows[0]) == ("nation_tt VERSION AS OF 1", 5)
    finally:
        eng.sql("DROP TABLE nation_tt")


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


# -- SQL writes commit store versions -----------------------------------------


def _rows(eng, sql):
    return sorted(tuple(r) for r in eng.sql(sql).rows)


def test_dataframe_built_before_an_update_keeps_its_rows(spark):
    """An UPDATE writes a fresh version directory and deletes nothing, so
    a DataFrame resolved before it still collects the rows it was built
    over."""
    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS st_before")
    eng.sql("CREATE TABLE st_before (id BIGINT, v BIGINT) USING PARQUET")
    try:
        eng.sql("INSERT INTO st_before VALUES (1, 10), (2, 20)")
        before = eng.df("SELECT id, v FROM st_before")
        eng.sql("UPDATE st_before SET v = v + 1")
        assert sorted(tuple(r) for r in before.collect()) == [(1, 10), (2, 20)]
        assert _rows(eng, "SELECT id, v FROM st_before") == [(1, 11), (2, 21)]
    finally:
        eng.sql("DROP TABLE IF EXISTS st_before")


def test_failed_two_table_commit_leaves_both_tables_unchanged(spark, monkeypatch):
    """A COMMIT whose second table write raises publishes neither table:
    both keep their pre-COMMIT rows."""
    from pyspark.sql import DataFrameWriter

    eng = Engine(spark=spark)
    for t in ("st_c1", "st_c2"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
        eng.sql(f"CREATE TABLE {t} (id BIGINT) USING PARQUET")
        eng.sql(f"INSERT INTO {t} VALUES (1)")
    writes = []

    def second_write_fails(real):
        def write(self, *args, **kwargs):
            writes.append(real.__name__)
            if len(writes) == 2:
                raise OSError("disk full")
            return real(self, *args, **kwargs)
        return write

    try:
        with pytest.raises(OSError, match="disk full"):
            with eng.transaction() as txn:
                txn.sql("UPDATE st_c1 SET id = 10")
                txn.sql("UPDATE st_c2 SET id = 20")
                for name in ("parquet", "saveAsTable", "insertInto"):
                    monkeypatch.setattr(DataFrameWriter, name, second_write_fails(
                        getattr(DataFrameWriter, name)))
        monkeypatch.undo()
        assert _rows(eng, "SELECT id FROM st_c1") == [(1,)]
        assert _rows(eng, "SELECT id FROM st_c2") == [(1,)]
    finally:
        monkeypatch.undo()
        for t in ("st_c1", "st_c2"):
            eng.sql(f"DROP TABLE IF EXISTS {t}")


def _location(eng, table):
    return eng._table(table)[2].location().getPath()


def test_failed_publish_leaves_table_and_store_unchanged(spark, monkeypatch):
    """A commit whose manifest swap raises deletes what it staged and
    points the catalog entry back: the table and the store's file list
    stay as they were, for an append and a rewrite alike."""
    import os

    from litebase_spark import snapshots

    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS st_pub")
    eng.sql("CREATE TABLE st_pub (id BIGINT) USING PARQUET")
    try:
        eng.sql("INSERT INTO st_pub VALUES (1)")
        files, where = eng.store.files("st_pub"), _location(eng, "st_pub")
        listing = sorted(os.listdir(os.path.dirname(where)))

        def swap_fails(*args):
            raise OSError("disk full")

        monkeypatch.setattr(snapshots, "write_manifest", swap_fails)
        for stmt in ("INSERT INTO st_pub VALUES (2)",
                     "UPDATE st_pub SET id = 10"):
            with pytest.raises(OSError, match="disk full"):
                eng.sql(stmt)
            assert _rows(eng, "SELECT id FROM st_pub") == [(1,)]
            assert eng.store.files("st_pub") == files
            assert _location(eng, "st_pub") == where
            assert sorted(os.listdir(os.path.dirname(where))) == listing
            assert set(os.listdir(where)) >= {os.path.basename(f) for f in files}
            assert len([f for f in os.listdir(where)
                        if f.endswith(".parquet")]) == len(files)
    finally:
        monkeypatch.undo()
        eng.sql("DROP TABLE IF EXISTS st_pub")


def test_commit_whose_second_repoint_fails_lands_no_table(spark, monkeypatch):
    """A two-table COMMIT that fails while pointing the second table at
    its new version points the first one back: neither table changes,
    in the catalog or in the store."""
    eng = Engine(spark=spark)
    for t in ("st_r1", "st_r2"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
        eng.sql(f"CREATE TABLE {t} (id BIGINT) USING PARQUET")
        eng.sql(f"INSERT INTO {t} VALUES (1)")
    before = {t: (eng.store.files(t), _location(eng, t))
              for t in ("st_r1", "st_r2")}
    real, calls = eng._set_location, []

    def second_fails(name, path):
        calls.append(name)
        if len(calls) == 2:
            raise RuntimeError("catalog unavailable")
        real(name, path)

    try:
        with pytest.raises(RuntimeError, match="catalog unavailable"):
            with eng.transaction() as txn:
                txn.sql("UPDATE st_r1 SET id = 10")
                txn.sql("UPDATE st_r2 SET id = 20")
                monkeypatch.setattr(eng, "_set_location", second_fails)
        monkeypatch.undo()
        for t in ("st_r1", "st_r2"):
            assert _rows(eng, f"SELECT id FROM {t}") == [(1,)]
            assert (eng.store.files(t), _location(eng, t)) == before[t]
    finally:
        monkeypatch.undo()
        for t in ("st_r1", "st_r2"):
            eng.sql(f"DROP TABLE IF EXISTS {t}")


def test_managed_table_is_adopted_on_first_write(spark):
    """A managed parquet table (here written by the DataFrame API)
    becomes an EXTERNAL table over its own directory on its first
    Engine write; its files are the first store version, so snapshots
    and DROP treat it like a table the Engine created."""
    import os

    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS st_managed")
    spark.range(3).selectExpr("id").write.saveAsTable("st_managed")
    where = _location(eng, "st_managed")
    try:
        eng.sql("INSERT INTO st_managed VALUES (7)")
        assert eng._table("st_managed")[2].tableType().name() == "EXTERNAL"
        assert _location(eng, "st_managed") == where  # no data moved
        assert _rows(eng, "SELECT id FROM st_managed") == [(0,), (1,), (2,), (7,)]
        assert eng.store.read("st_managed", version=1).count() == 3
        eng.sql("UPDATE st_managed SET id = id + 100 WHERE id = 7")
        assert _rows(eng, "SELECT id FROM st_managed WHERE id > 2") == [(107,)]
        eng.sql("DROP TABLE st_managed")
        # the DROP left every version's files for snapshots and time travel
        assert eng.store.read("st_managed", version=2).count() == 4
        assert all(os.path.exists(f) for f in eng.store.files("st_managed", 1))
    finally:
        eng.sql("DROP TABLE IF EXISTS st_managed")


def test_unstored_layouts_are_refused_with_the_reason(spark):
    """The store writes unpartitioned, unbucketed parquet tables; a
    write or an optimize of any other table fails with that reason and
    changes nothing."""
    eng = Engine(spark=spark)
    for layout in ("PARTITIONED BY (p)", "CLUSTERED BY (id) INTO 2 BUCKETS"):
        eng.sql("DROP TABLE IF EXISTS st_part")
        eng.sql("CREATE TABLE st_part (id BIGINT, p INT) USING PARQUET "
                + layout)
        try:
            with pytest.raises(ValueError, match="unpartitioned, unbucketed"):
                eng.sql("INSERT INTO st_part VALUES (1, 1)")
            with pytest.raises(ValueError, match="unpartitioned, unbucketed"):
                eng.optimize("st_part")
            assert eng.sql("SELECT count(*) AS n FROM st_part").rows[0].n == 0
        finally:
            eng.sql("DROP TABLE IF EXISTS st_part")


def test_optimize_keeps_earlier_versions_until_vacuum(spark, tmp_path):
    """An optimize commits the compacted rows as a new version in a
    fresh directory: VERSION AS OF and a snapshot taken before it still
    read the replaced files, which vacuum deletes only once no snapshot
    pins them."""
    import os

    from litebase_spark.snapshots import STORE_DIR

    eng = Engine(spark=spark, store_root=str(tmp_path / "opt"))
    eng.sql("DROP TABLE IF EXISTS st_opt")
    eng.sql("CREATE TABLE st_opt (k BIGINT, v STRING) USING PARQUET")
    try:
        for i in range(6):
            eng.sql(f"INSERT INTO st_opt VALUES ({i}, 'v{i}')")
        rows = [(i, f"v{i}") for i in range(6)]
        replaced = eng.store.files("st_opt")
        snap = eng.store.snapshot()
        assert eng.optimize("st_opt") == (6, 1)
        head = eng.store.head_dir("st_opt")
        assert eng.optimize("st_opt") == (1, 1)  # compact: no new version
        assert eng.store.head_dir("st_opt") == head
        assert _rows(eng, "SELECT k, v FROM st_opt") == rows
        assert _rows(eng, "SELECT k, v FROM st_opt VERSION AS OF 3") == rows[:2]
        assert eng.store.restore_at(snap["created_at"], "pre") == ["st_opt"]
        assert _rows(eng, "SELECT k, v FROM pre__st_opt") == rows
        assert eng.store.vacuum() == []  # the snapshot pins them
        os.remove(os.path.join(eng.store.root, STORE_DIR, "snapshots",
                               f"{snap['snapshot_id']}.json"))
        assert eng.store.vacuum() == sorted(replaced)
        assert _rows(eng, "SELECT k, v FROM st_opt") == rows
    finally:
        eng.sql("DROP TABLE IF EXISTS st_opt")


def test_optimize_commits_the_rows_before_an_open_transaction(spark):
    """An optimize reads the committed head, not a transaction's
    uncommitted UPDATE of the table; after ROLLBACK the table holds the
    pre-transaction rows."""
    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS st_optx")
    eng.sql("CREATE TABLE st_optx (k BIGINT, v BIGINT) USING PARQUET")
    txn = None
    try:
        for i in range(3):
            eng.sql(f"INSERT INTO st_optx VALUES ({i}, {i})")
        rows = [(i, i) for i in range(3)]
        txn = eng.begin()
        txn.sql("UPDATE st_optx SET v = v + 100")
        assert eng.optimize("st_optx") == (3, 1)
        assert sorted(tuple(r) for r in eng.store.read("st_optx").collect()) == rows
        assert sorted(tuple(r) for r in txn.sql("SELECT k, v FROM st_optx").rows) \
            == [(i, i + 100) for i in range(3)]
        txn.rollback()
        assert _rows(eng, "SELECT k, v FROM st_optx") == rows
    finally:
        if txn is not None:
            txn.rollback()
        eng.sql("DROP TABLE IF EXISTS st_optx")


def test_store_root_must_be_on_the_local_filesystem():
    """The store moves files with os calls, so a root that Spark would
    resolve on another filesystem is refused instead of misplaced."""
    from litebase_spark.engine import _local_root

    assert _local_root("file:/data/wh", "file:///") == "/data/wh"
    assert _local_root("/data/wh", None) == "/data/wh"
    for root, default_fs in (("hdfs://nn:8020/wh", "file:///"),
                             ("s3a://bucket/wh", "file:///"),
                             ("/data/wh", "hdfs://nn:8020")):
        with pytest.raises(ValueError, match="not on the local filesystem"):
            _local_root(root, default_fs)

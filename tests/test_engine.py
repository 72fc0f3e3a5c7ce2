"""Engine service-surface tests (SURVEY §2.A rows A1-A3, A6, A9-analog,
A21-analog, A22): classification, parameter binding, result envelope,
DML rewrites with changes counts, branching, metrics."""

from __future__ import annotations

import contextlib

import pytest

from litebase_spark.engine import Engine, classify_statement, is_write


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = Engine(spark)
    eng.register_parquet_dir(sf_dir, ["orders", "customer", "nation"])
    return eng


def test_classifier():
    # analog of reference pkg/database/query.go:46-102
    assert classify_statement("SELECT 1") == "DQL"
    assert classify_statement("  with x as (select 1) select * from x") == "DQL"
    assert classify_statement("INSERT INTO t VALUES (1)") == "DML"
    assert classify_statement("UPDATE t SET a=1") == "DML"
    assert classify_statement("delete from t") == "DML"
    assert classify_statement("CREATE TABLE t (a INT)") == "DDL"
    assert classify_statement("DROP TABLE t") == "DDL"
    assert classify_statement("EXPLAIN SELECT 1") == "DQL"
    assert is_write("MERGE INTO t USING s ON 1=1") and not is_write("SELECT 1")


def test_positional_and_named_params(engine):
    r = engine.sql(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > ? "
        "AND o_orderstatus = ?",
        [300000, "F"],
    )
    r2 = engine.sql(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > :p "
        "AND o_orderstatus = :s",
        {"p": 300000, "s": "F"},
    )
    assert r.rows[0].n == r2.rows[0].n
    assert r.statement_class == "DQL"
    assert r.row_count == 1 and r.columns == ["n"]
    assert r.latency > 0


def test_param_count_mismatch(engine):
    with pytest.raises(ValueError):
        engine.sql("SELECT ? + ?", [1])


def test_question_mark_inside_literal_not_bound(engine):
    r = engine.sql("SELECT 'a?b' AS s, ? AS v", [5])
    assert r.rows[0].s == "a?b" and r.rows[0].v == 5


def test_ddl_dml_roundtrip_with_changes(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_dml")
    eng.sql("CREATE TABLE t_dml (id BIGINT, name STRING, val DOUBLE) USING PARQUET")
    r = eng.sql("INSERT INTO t_dml VALUES (1,'a',1.5),(2,'b',2.5),(3,'c',3.5)")
    assert r.statement_class == "DML"
    assert r.changes == 3  # reference: sqlite3_changes after INSERT
    assert eng.sql("SELECT count(*) AS n FROM t_dml").rows[0].n == 3

    # UPDATE via copy-on-write rewrite, changes = matched rows
    r = eng.sql("UPDATE t_dml SET val = val * 2 WHERE id <= 2")
    assert r.changes == 2
    got = {x.id: x.val for x in eng.sql("SELECT id, val FROM t_dml").rows}
    assert got == {1: 3.0, 2: 5.0, 3: 3.5}

    r = eng.sql("DELETE FROM t_dml WHERE name = 'b'")
    assert r.changes == 1
    assert eng.sql("SELECT count(*) AS n FROM t_dml").rows[0].n == 2
    eng.sql("DROP TABLE t_dml")


def test_merge_upsert(engine, spark):
    # MERGE analog through SQL: source rows replace matches, the rest
    # append; changes counts every source row
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_merge")
    eng.sql("CREATE TABLE t_merge (id BIGINT, v STRING) USING PARQUET")
    eng.sql("INSERT INTO t_merge VALUES (1,'old'),(2,'old')")
    r = eng.sql("INSERT INTO t_merge VALUES (2,'new'),(3,'new') "
                "ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    assert r.changes == 2
    got = {r.id: r.v for r in eng.sql("SELECT * FROM t_merge").rows}
    assert got == {1: "old", 2: "new", 3: "new"}
    eng.sql("DROP TABLE t_merge")


def test_metrics_telemetry(engine, spark):
    # A22: per-statement-hash count/avg/min/max/p50/p90/p99
    eng = Engine(spark)
    eng.register_parquet_dir("/root/testdata/sf0.001", ["nation"])
    for _ in range(3):
        eng.sql("SELECT count(*) AS n FROM nation")
    snap = eng.metrics.snapshot()
    assert len(snap) == 1
    m = snap[0]
    assert m["count"] == 3
    assert 0 < m["min"] <= m["p50"] <= m["max"]
    assert m["statement_hash"] == eng.metrics.statement_hash(
        "SELECT count(*) AS n FROM nation"
    )
    mdf = eng.query_metrics()
    assert mdf.count() == 1 and "p99" in mdf.columns


def test_engine_runs_tpch_sql_text_with_params(engine, spark, sf_dir):
    """The engine executes the reference's core use case: a raw SQL
    string with positional parameters, returning the litebase-shaped
    result envelope (reference: pkg/database/query_input.go:28-32,
    query_response.go:15-50)."""
    from litebase_spark.catalog import register_views

    register_views(spark, sf_dir)
    res = engine.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS count_order,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS sum_qty
        FROM lineitem
        WHERE l_shipdate <= ? AND l_quantity < ?
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        params=["2000-09-02", 30],
    )
    assert res.statement_class == "DQL"
    assert res.columns == ["l_returnflag", "l_linestatus", "count_order", "sum_qty"]
    assert res.row_count > 0 and res.changes == 0
    assert res.latency > 0
    # metrics recorded under the statement hash (A22)
    snap = engine.metrics.snapshot()
    assert any(s["count"] >= 1 and "l_returnflag" in s["statement"] for s in snap)


def test_insert_returning_values(engine):
    engine.sql("CREATE TABLE IF NOT EXISTS t_ret (id INT, name STRING) USING parquet")
    try:
        res = engine.sql(
            "INSERT INTO t_ret (id, name) VALUES (1, 'a'), (2, 'b') "
            "RETURNING id, upper(name) AS uname"
        )
        assert res.changes == 2
        assert res.columns == ["id", "uname"]
        assert sorted(tuple(r) for r in res.rows) == [(1, "A"), (2, "B")]
        # and the rows actually landed
        assert engine.sql("SELECT COUNT(*) AS n FROM t_ret").rows[0]["n"] == 2
    finally:
        engine.sql("DROP TABLE IF EXISTS t_ret")


def test_transaction_commit_and_rollback(engine):
    engine.sql("CREATE TABLE IF NOT EXISTS t_txn (id INT, v STRING) USING parquet")
    try:
        engine.sql("INSERT INTO t_txn VALUES (1, 'a'), (2, 'b'), (3, 'c')")

        # rollback: nothing persists, no files rewritten
        txn = engine.begin()
        assert txn.sql("UPDATE t_txn SET v = 'X' WHERE id <= 2").changes == 2
        assert txn.sql("DELETE FROM t_txn WHERE id = 3").changes == 1
        # txn sees its own uncommitted state...
        r = engine.sql("SELECT COUNT(*) AS n FROM t_txn").rows[0]
        assert r["n"] == 2
        txn.rollback()
        # ...and rollback restores the catalog view of the world
        rows = sorted(tuple(r) for r in engine.sql("SELECT * FROM t_txn").rows)
        assert rows == [(1, "a"), (2, "b"), (3, "c")]

        # commit: multi-statement atomicity, one write per touched table
        with engine.transaction() as txn2:
            txn2.sql("UPDATE t_txn SET v = upper(v)")
            txn2.sql("INSERT INTO t_txn (id, v) VALUES (4, 'D')")
        rows = sorted(tuple(r) for r in engine.sql("SELECT * FROM t_txn").rows)
        assert rows == [(1, "A"), (2, "B"), (3, "C"), (4, "D")]

        # context manager rolls back on error
        try:
            with engine.transaction() as txn3:
                txn3.sql("DELETE FROM t_txn")
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert engine.sql("SELECT COUNT(*) AS n FROM t_txn").rows[0]["n"] == 4
    finally:
        engine.sql("DROP TABLE IF EXISTS t_txn")


def test_transaction_id_routing_and_timeout(engine):
    engine.sql("CREATE TABLE IF NOT EXISTS t_txn2 (id INT) USING parquet")
    try:
        engine.sql("INSERT INTO t_txn2 VALUES (1)")
        txn = engine.begin(kind="IMMEDIATE", timeout=0.0)
        import time as _t

        _t.sleep(0.01)
        # expired txn auto-rolls-back and refuses statements (reference
        # 5-minute timeout, pkg/database/transaction.go:55-56)
        import pytest as _pt

        with _pt.raises(RuntimeError, match="expired"):
            txn.sql("DELETE FROM t_txn2")
        assert engine.sql("SELECT COUNT(*) AS n FROM t_txn2").rows[0]["n"] == 1

        txn2 = engine.begin()
        res = engine.sql(
            "INSERT INTO t_txn2 VALUES (2)", transaction_id=txn2.transaction_id
        )
        assert res.changes == 1
        txn2.commit()
        assert engine.sql("SELECT COUNT(*) AS n FROM t_txn2").rows[0]["n"] == 2
    finally:
        engine.sql("DROP TABLE IF EXISTS t_txn2")


def test_pragma_vacuum_tcl_surface(engine):
    import pytest

    # classifier covers the reference's full prefix set (query.go:46-102)
    from litebase_spark.engine import classify_statement

    assert classify_statement("PRAGMA table_info(x)") == "PRAGMA"
    assert classify_statement("VACUUM") == "VACUUM"
    assert classify_statement("BEGIN IMMEDIATE") == "TCL"

    # VACUUM gated like the reference (resolver.go:100-103)
    with pytest.raises(ValueError, match="VACUUM"):
        engine.sql("VACUUM")

    # allowlisted introspection pragmas run; mutating ones are denied
    engine.sql("CREATE TABLE IF NOT EXISTS t_prag (id INT, s STRING) USING parquet")
    try:
        res = engine.sql("PRAGMA table_info(t_prag)")
        assert {r["col_name"] for r in res.rows} >= {"id", "s"}
        assert engine.sql("PRAGMA database_list").row_count >= 1
        assert engine.sql("PRAGMA index_list(t_prag)").row_count == 0
        with pytest.raises(PermissionError):
            engine.sql("PRAGMA journal_mode(wal)")

        # SQL-level BEGIN/COMMIT/ROLLBACK drive the shadow-view txn
        engine.sql("BEGIN")
        engine.sql("INSERT INTO t_prag VALUES (1, 'x')")
        engine.sql("ROLLBACK")
        assert engine.sql("SELECT COUNT(*) AS n FROM t_prag").rows[0]["n"] == 0
        engine.sql("BEGIN IMMEDIATE")
        engine.sql("INSERT INTO t_prag VALUES (1, 'x')")
        engine.sql("COMMIT")
        assert engine.sql("SELECT COUNT(*) AS n FROM t_prag").rows[0]["n"] == 1
        with pytest.raises(RuntimeError, match="no transaction"):
            engine.sql("COMMIT")
    finally:
        engine.sql("DROP TABLE IF EXISTS t_prag")


def test_analyze_reindex_surface(engine):
    import pytest

    from litebase_spark.engine import classify_statement

    assert classify_statement("ANALYZE") == "MAINT"
    assert classify_statement("REINDEX t") == "MAINT"

    engine.sql("CREATE TABLE IF NOT EXISTS t_an (id INT) USING parquet")
    try:
        engine.sql("INSERT INTO t_an VALUES (1), (2), (3)")
        # explicit target: stats land in the catalog (CBO analog of
        # SQLite's sqlite_stat1)
        res = engine.sql("ANALYZE t_an")
        assert res.statement_class == "MAINT" and res.changes == 1
        stats = engine.sql("DESCRIBE TABLE EXTENDED t_an").rows
        stat_row = {r["col_name"]: r["data_type"] for r in stats}.get(
            "Statistics", ""
        )
        assert "3 rows" in stat_row
        # bare ANALYZE sweeps analyzable tables and skips temp views
        assert engine.sql("ANALYZE").changes >= 1
        # REINDEX accepted as a no-op (no physical indexes)
        assert engine.sql("REINDEX t_an").changes == 0
        # explicit ANALYZE of a missing table raises
        with pytest.raises(Exception):
            engine.sql("ANALYZE no_such_table_xyz")
    finally:
        engine.sql("DROP TABLE IF EXISTS t_an")


def test_engine_sql_accepts_sqlite_dialect_shims(spark, sf_dir):
    """A reference user's SQLite-flavored SQL runs through plain
    Engine.sql() — the compat shims self-register at Engine init."""
    from litebase_spark.engine import Engine

    eng = Engine(spark)
    res = eng.sql(
        "SELECT ifnull(NULL, 5) AS a, iif(1 > 0, 1.0, 2.0) AS b, "
        "unixepoch(TIMESTAMP '1996-01-01 00:00:00') AS c"
    )
    assert res.rows[0] == (5, 1.0, 820454400)


def test_dml_changes_observed_no_extra_scan(engine, spark):
    """`changes` rides the rewrite job via df.observe (the commit-
    metrics analog): an UPDATE runs at most 2 jobs (checkpoint + write),
    with NO separate count scan (round 2 ran 3); an INSERT ... VALUES
    runs one job, its write."""
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_obs")
    eng.sql("CREATE TABLE t_obs (id BIGINT, v DOUBLE) USING PARQUET")
    eng.sql("INSERT INTO t_obs VALUES (1,1.0),(2,2.0),(3,3.0),(4,4.0)")
    sc = spark.sparkContext

    def jobs_of(stmt, group):
        sc.setJobGroup(group, stmt)
        try:
            res = eng.sql(stmt)
        finally:
            sc.setJobGroup("", "")
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    res, jobs = jobs_of("UPDATE t_obs SET v = v + 10 WHERE id >= 3",
                        "dml-observe-update")
    assert res.changes == 2
    assert jobs <= 2, f"expected checkpoint+write only, got {jobs} jobs"
    got = {r.id: r.v for r in eng.sql("SELECT * FROM t_obs").rows}
    assert got == {1: 1.0, 2: 2.0, 3: 13.0, 4: 14.0}
    res, jobs = jobs_of("INSERT INTO t_obs VALUES (5, 5.0), (6, 6.0)",
                        "dml-observe-insert")
    assert res.changes == 2
    assert jobs == 1, f"expected the insert job only, got {jobs} jobs"
    assert eng.sql("SELECT count(*) AS n FROM t_obs").rows[0].n == 6
    eng.sql("DROP TABLE t_obs")


def test_query_log_buckets_and_flush(spark, tmp_path):
    """Time-bucketed query log (A22 depth): windowed readback, JSONL
    flush, distributed re-read (reference pkg/logs/query_log.go)."""
    from litebase_spark.engine import QueryMetrics

    m = QueryMetrics()
    m.record("SELECT 1", 0.010, ts=1000.0)
    m.record("SELECT 1", 0.030, ts=1010.0)   # same minute bucket
    m.record("SELECT 1", 0.020, ts=1070.0)   # next bucket
    m.record("SELECT 2", 0.005, ts=1070.0)
    rows = m.log_entries()
    assert [(r["bucket_ts"], r["statement"], r["count"]) for r in rows] == [
        (960, "SELECT 1", 2),
        (1020, "SELECT 1", 1),
        (1020, "SELECT 2", 1),
    ]
    # window filter: only the second bucket
    assert {r["bucket_ts"] for r in m.log_entries(start=1020)} == {1020}
    assert {r["bucket_ts"] for r in m.log_entries(end=1000)} == {960}
    path = str(tmp_path / "querylog.jsonl")
    assert m.flush(path) == 3
    assert m.log_entries() == []  # queue cleared
    back = m.read_log(spark, path)
    assert back.count() == 3
    got = {
        (r["bucket_ts"], r["statement"]): r["count"] for r in back.collect()
    }
    assert got[(960, "SELECT 1")] == 2


def test_query_log_keeps_newest_buckets(spark):
    """A server that never flushes keeps at most QUERY_LOG_BUCKETS
    minute buckets: the oldest leave as new minutes arrive."""
    from litebase_spark.engine import QUERY_LOG_BUCKETS, QueryMetrics

    m = QueryMetrics()
    minutes = QUERY_LOG_BUCKETS + 7
    for i in range(minutes):
        m.record("SELECT 1", 0.01, ts=60.0 * i)
        m.record("SELECT 2", 0.02, ts=60.0 * i + 1)
    kept = sorted({r["bucket_ts"] for r in m.log_entries()})
    assert len(kept) == QUERY_LOG_BUCKETS
    assert kept[-1] == 60 * (minutes - 1)  # the newest bucket survives
    assert m.total_count() == 2 * minutes  # overall totals keep everything


def _lognormal_latencies(seed: int):
    import random

    rng = random.Random(seed)
    while True:
        yield rng.lognormvariate(-3.0, 1.0)  # median ~50 ms


def test_metrics_memory_constant_over_a_million_records():
    """Recording costs O(1) memory per statement: a long-lived server's
    metrics stay bounded however much traffic it serves."""
    import itertools
    import tracemalloc

    import litebase_spark.engine as engine_mod
    from litebase_spark.engine import QueryMetrics

    def held() -> int:
        snap = tracemalloc.take_snapshot().filter_traces(
            [tracemalloc.Filter(True, engine_mod.__file__)]
        )
        return sum(s.size for s in snap.statistics("filename"))

    m = QueryMetrics()
    lat = _lognormal_latencies(11)
    tracemalloc.start()
    try:
        for x in itertools.islice(lat, 10_000):
            m.record("SELECT 1", x, ts=0.0)
        after_1e4 = held()
        for x in itertools.islice(lat, 990_000):
            m.record("SELECT 1", x, ts=0.0)
        after_1e6 = held()
    finally:
        tracemalloc.stop()
    assert m.total_count() == 1_000_000
    # keeping every sample would add ~16 MB between the two readings
    assert after_1e6 - after_1e4 < 256 * 1024, (after_1e4, after_1e6)


def test_metrics_percentiles_within_bucket_error():
    import itertools

    from litebase_spark.engine import LATENCY_RELATIVE_ERROR, QueryMetrics

    samples = list(itertools.islice(_lognormal_latencies(7), 20_000))
    samples += [1e-5, 42.0]  # the spread reaches well past one decade
    m = QueryMetrics()
    for x in samples:
        m.record("SELECT 1", x, ts=0.0)
    (row,) = m.snapshot()
    exact = sorted(samples)
    n = len(exact)
    assert row["count"] == n
    assert (row["min"], row["max"]) == (exact[0], exact[-1])
    assert row["avg"] == pytest.approx(sum(samples) / n)
    for key, p in (("p50", 0.50), ("p90", 0.90), ("p99", 0.99)):
        want = exact[min(n - 1, int(p * n))]
        assert abs(row[key] - want) <= LATENCY_RELATIVE_ERROR * want, key
    # a lone sample is reported exactly (clamped to [min, max])
    m.record("SELECT 2", 0.0123, ts=0.0)
    lone = next(r for r in m.snapshot() if r["statement"] == "SELECT 2")
    assert lone["p50"] == lone["p90"] == lone["p99"] == 0.0123


def test_metrics_record_loses_no_update_under_threads():
    import sys
    import threading

    from litebase_spark.engine import QueryMetrics

    m = QueryMetrics()
    per_thread, n_threads = 5_000, 8

    def work(i):
        for k in range(per_thread):
            m.record(f"SELECT {k % 3}", 0.001 * (i + 1), ts=60.0 * (k % 2))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    total = per_thread * n_threads
    assert m.total_count() == total
    assert sum(r["count"] for r in m.log_entries()) == total


def test_one_metrics_record_per_statement(spark):
    """Each statement a caller sends is timed and recorded exactly once,
    whichever route it takes; a trigger body counts as its own
    statement."""
    eng = Engine(spark)

    def once(stmt, **kw):
        before = eng.metrics.total_count()
        prior = {r["statement"]: r["count"] for r in eng.metrics.snapshot()}
        res = eng.sql(stmt, **kw)
        after = {r["statement"]: r["count"] for r in eng.metrics.snapshot()}
        assert after.get(stmt, 0) - prior.get(stmt, 0) == 1, stmt
        assert eng.metrics.total_count() - before == 1, stmt
        assert res.latency > 0, stmt
        return res

    eng.sql("DROP TABLE IF EXISTS t_rec")
    eng.sql("DROP TABLE IF EXISTS t_rec_log")
    once("CREATE TABLE t_rec (id BIGINT) USING PARQUET")
    once("SELECT 1 AS one")
    once("SELECT 2 AS two", timeout=60)
    once("INSERT INTO t_rec VALUES (1)")
    once("PRAGMA table_list")
    once("EXPLAIN QUERY PLAN SELECT * FROM t_rec")
    once("CREATE INDEX ix_rec ON t_rec (id)")
    once("CREATE INDEX IF NOT EXISTS ix_rec ON t_rec (id)")
    once("DROP INDEX ix_rec")
    # interactive transaction, by id and through the Transaction object
    txn = eng.begin()
    tid = txn.transaction_id
    once("INSERT INTO t_rec VALUES (2)", transaction_id=tid)
    assert once("SELECT count(*) AS n FROM t_rec",
                transaction_id=tid).rows[0].n == 2
    once("SAVEPOINT sp_rec", transaction_id=tid)
    before = eng.metrics.total_count()
    txn.sql("RELEASE sp_rec")
    assert eng.metrics.total_count() - before == 1
    once("COMMIT", transaction_id=tid)
    # the SQL-level BEGIN/COMMIT route
    once("BEGIN")
    once("INSERT INTO t_rec VALUES (3)")
    once("SAVEPOINT sp_sql")
    once("END")
    assert eng.sql("SELECT count(*) AS n FROM t_rec").rows[0].n == 3
    # a trigger body runs as its own statement
    eng.sql("CREATE TABLE t_rec_log (n BIGINT) USING PARQUET")
    body = "INSERT INTO t_rec_log SELECT count(*) FROM t_rec"
    once(f"CREATE TRIGGER trg_rec AFTER INSERT ON t_rec BEGIN {body}; END")
    before = eng.metrics.total_count()
    eng.sql("INSERT INTO t_rec VALUES (4)")
    assert eng.metrics.total_count() - before == 2
    counts = {r["statement"]: r["count"] for r in eng.metrics.snapshot()}
    assert counts[body] == 1 and counts["INSERT INTO t_rec VALUES (4)"] == 1
    once("DROP TRIGGER trg_rec")
    eng.sql("DROP TABLE t_rec")
    eng.sql("DROP TABLE t_rec_log")


def test_metrics_key_on_caller_statement(spark):
    """DDL the engine answers itself (trigger, index, attach) is keyed
    on the text the caller sent, not on its Spark translation."""
    eng = Engine(spark)
    stmt = ("CREATE TRIGGER trg_iif AFTER INSERT ON t_iif "
            "BEGIN SELECT iif(1, 2, 3) AS x; END")
    eng.sql(stmt)
    try:
        snap = eng.metrics.snapshot()
        assert [(r["statement"], r["statement_hash"]) for r in snap] == [
            (stmt, eng.metrics.statement_hash(stmt))
        ]
    finally:
        eng.sql("DROP TRIGGER trg_iif")


def test_prepared_cache_lfu_eviction(spark):
    eng = Engine(spark=spark)
    eng.PREPARED_CACHE_CAP = 2
    hot = "SELECT 1 AS hot"
    eng.prepared(hot)
    eng.prepared(hot)  # freq 2
    eng.prepared("SELECT 2 AS cold")  # freq 1
    eng.prepared("SELECT 3 AS newer")  # evicts the cold one
    h = eng.metrics.statement_hash
    assert h(hot) in eng._plan_cache
    assert h("SELECT 2 AS cold") not in eng._plan_cache
    assert h("SELECT 3 AS newer") in eng._plan_cache


def test_savepoints_nested_rollback(spark, sf_dir):
    """SAVEPOINT / ROLLBACK TO / RELEASE inside an interactive txn
    (SQLite savepoint dialect; reference grants database:savepoint)."""
    eng = Engine(spark)
    eng.sql("DROP TABLE IF EXISTS t_sp")
    eng.sql("CREATE TABLE t_sp (id BIGINT) USING PARQUET")
    eng.sql("INSERT INTO t_sp VALUES (1)")
    eng.sql("BEGIN IMMEDIATE")
    eng.sql("INSERT INTO t_sp VALUES (2)")
    eng.sql("SAVEPOINT sp1")
    eng.sql("INSERT INTO t_sp VALUES (3)")
    eng.sql("SAVEPOINT sp2")
    eng.sql("INSERT INTO t_sp VALUES (4)")
    assert eng.sql("SELECT count(*) AS n FROM t_sp").rows[0].n == 4
    # revert to sp1: rows 3 and 4 vanish; sp2 is discarded
    eng.sql("ROLLBACK TO sp1")
    assert eng.sql("SELECT count(*) AS n FROM t_sp").rows[0].n == 2
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.sql("ROLLBACK TO sp2")
    # savepoint survives its own rollback; work after it commits
    eng.sql("INSERT INTO t_sp VALUES (30)")
    eng.sql("RELEASE sp1")
    with _pytest.raises(Exception):
        eng.sql("ROLLBACK TO sp1")  # released
    eng.sql("COMMIT")
    got = sorted(r.id for r in eng.sql("SELECT id FROM t_sp").rows)
    assert got == [1, 2, 30]
    eng.sql("DROP TABLE t_sp")


def test_savepoint_requires_transaction(spark):
    eng = Engine(spark)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        eng.sql("SAVEPOINT sp1")


# -- SQLite upsert dialect (INSERT OR REPLACE/IGNORE, ON CONFLICT) ---------
# reference surface: full SQLite upsert grammar through the query API
# (pkg/database/query.go DML classes; sqlite.org/lang_upsert.html)


def test_insert_on_conflict_do_nothing(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_up1")
    eng.sql("CREATE TABLE t_up1 (id BIGINT, v STRING) USING PARQUET")
    eng.sql("INSERT INTO t_up1 VALUES (1,'a'),(2,'b')")
    r = eng.sql(
        "INSERT INTO t_up1 VALUES (2,'dup'),(3,'c'),(3,'dup2') "
        "ON CONFLICT(id) DO NOTHING"
    )
    assert r.changes == 1  # only id=3 inserts; first proposed row wins
    got = {x.id: x.v for x in eng.sql("SELECT * FROM t_up1").rows}
    assert got == {1: "a", 2: "b", 3: "c"}
    eng.sql("DROP TABLE t_up1")


def test_insert_on_conflict_do_update_excluded(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_up2")
    eng.sql("CREATE TABLE t_up2 (id BIGINT, v STRING, n BIGINT) USING PARQUET")
    eng.sql("INSERT INTO t_up2 VALUES (1,'a',10),(2,'b',20)")
    r = eng.sql(
        "INSERT INTO t_up2 VALUES (2,'B',99),(3,'c',30) "
        "ON CONFLICT(id) DO UPDATE SET v = excluded.v, n = n + excluded.n"
    )
    assert r.changes == 2  # one update + one insert
    got = {x.id: (x.v, x.n) for x in eng.sql("SELECT * FROM t_up2").rows}
    assert got == {1: ("a", 10), 2: ("B", 119), 3: ("c", 30)}
    eng.sql("DROP TABLE t_up2")


def test_insert_on_conflict_do_update_where(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_up3")
    eng.sql("CREATE TABLE t_up3 (id BIGINT, n BIGINT) USING PARQUET")
    eng.sql("INSERT INTO t_up3 VALUES (1,10),(2,20)")
    r = eng.sql(
        "INSERT INTO t_up3 VALUES (1,111),(2,222) "
        "ON CONFLICT(id) DO UPDATE SET n = excluded.n WHERE n < 15"
    )
    assert r.changes == 1  # only id=1 passes the guard
    got = {x.id: x.n for x in eng.sql("SELECT * FROM t_up3").rows}
    assert got == {1: 111, 2: 20}
    eng.sql("DROP TABLE t_up3")


def test_insert_or_replace_and_ignore_use_declared_pk(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_up4")
    # PRIMARY KEY parsed out of the DDL and registered as conflict target
    eng.sql(
        "CREATE TABLE t_up4 (id BIGINT PRIMARY KEY, v STRING) USING PARQUET"
    )
    eng.sql("INSERT INTO t_up4 VALUES (1,'a'),(2,'b')")
    r = eng.sql("INSERT OR REPLACE INTO t_up4 VALUES (2,'B'),(3,'c')")
    assert r.changes == 2
    got = {x.id: x.v for x in eng.sql("SELECT * FROM t_up4").rows}
    assert got == {1: "a", 2: "B", 3: "c"}
    r = eng.sql("INSERT OR IGNORE INTO t_up4 VALUES (3,'zz'),(4,'d')")
    assert r.changes == 1
    got = {x.id: x.v for x in eng.sql("SELECT * FROM t_up4").rows}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    eng.sql("DROP TABLE t_up4")


def test_table_level_primary_key_parsed(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_up5")
    eng.sql(
        "CREATE TABLE t_up5 (a BIGINT, b STRING, v BIGINT, "
        "PRIMARY KEY (a, b)) USING PARQUET"
    )
    eng.sql("INSERT INTO t_up5 VALUES (1,'x',10)")
    r = eng.sql("INSERT OR IGNORE INTO t_up5 VALUES (1,'x',99),(1,'y',20)")
    assert r.changes == 1
    got = {(x.a, x.b): x.v for x in eng.sql("SELECT * FROM t_up5").rows}
    assert got == {(1, "x"): 10, (1, "y"): 20}
    eng.sql("DROP TABLE t_up5")


def test_upsert_requires_conflict_target(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_up6")
    eng.sql("CREATE TABLE t_up6 (id BIGINT, v STRING) USING PARQUET")
    with pytest.raises(ValueError, match="conflict target"):
        eng.sql("INSERT OR REPLACE INTO t_up6 VALUES (1,'a')")
    eng.sql("DROP TABLE t_up6")


def test_update_from_joined(engine):
    # SQLite >= 3.33 UPDATE ... FROM
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_uf")
    eng.sql("DROP TABLE IF EXISTS t_uf_src")
    eng.sql("CREATE TABLE t_uf (id BIGINT, price DOUBLE) USING PARQUET")
    eng.sql("CREATE TABLE t_uf_src (id BIGINT, newprice DOUBLE) USING PARQUET")
    eng.sql("INSERT INTO t_uf VALUES (1,1.0),(2,2.0),(3,3.0)")
    eng.sql("INSERT INTO t_uf_src VALUES (1,10.0),(3,30.0)")
    r = eng.sql(
        "UPDATE t_uf SET price = s.newprice FROM t_uf_src s "
        "WHERE t_uf.id = s.id"
    )
    assert r.changes == 2
    got = {x.id: x.price for x in eng.sql("SELECT * FROM t_uf").rows}
    assert got == {1: 10.0, 2: 2.0, 3: 30.0}
    eng.sql("DROP TABLE t_uf")
    eng.sql("DROP TABLE t_uf_src")


def test_upsert_inside_transaction_rolls_back(engine):
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_uptx")
    eng.sql("CREATE TABLE t_uptx (id BIGINT PRIMARY KEY, v STRING) USING PARQUET")
    eng.sql("INSERT INTO t_uptx VALUES (1,'a'),(2,'b')")
    txn = eng.begin()
    r = txn.sql(
        "INSERT INTO t_uptx VALUES (2,'B'),(3,'c') "
        "ON CONFLICT(id) DO UPDATE SET v = excluded.v"
    )
    assert r.changes == 2
    got = {x.id: x.v for x in txn.sql("SELECT * FROM t_uptx").rows}
    assert got == {1: "a", 2: "B", 3: "c"}
    txn.sql("ROLLBACK")
    got = {x.id: x.v for x in eng.sql("SELECT * FROM t_uptx").rows}
    assert got == {1: "a", 2: "b"}
    eng.sql("DROP TABLE t_uptx")


def test_replace_into_alias(engine):
    # SQLite REPLACE INTO == INSERT OR REPLACE INTO
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_rep")
    eng.sql("CREATE TABLE t_rep (id BIGINT PRIMARY KEY, v STRING) USING PARQUET")
    eng.sql("INSERT INTO t_rep VALUES (1,'a'),(2,'b')")
    r = eng.sql("REPLACE INTO t_rep VALUES (2,'B'),(3,'c')")
    assert r.changes == 2 and r.statement_class == "DML"
    got = {x.id: x.v for x in eng.sql("SELECT * FROM t_rep").rows}
    assert got == {1: "a", 2: "B", 3: "c"}
    eng.sql("DROP TABLE t_rep")


def test_returning_on_update_delete_and_upsert(engine):
    # SQLite >= 3.35: RETURNING applies to every DML form
    eng = engine
    eng.sql("DROP TABLE IF EXISTS t_ret")
    eng.sql("CREATE TABLE t_ret (id BIGINT PRIMARY KEY, v BIGINT) USING PARQUET")
    eng.sql("INSERT INTO t_ret VALUES (1,10),(2,20),(3,30)")

    r = eng.sql("UPDATE t_ret SET v = v * 2 WHERE id <= 2 RETURNING id, v")
    assert r.changes == 2 and r.columns == ["id", "v"]
    assert sorted((x.id, x.v) for x in r.rows) == [(1, 20), (2, 40)]

    r = eng.sql("DELETE FROM t_ret WHERE id = 3 RETURNING *")
    assert r.changes == 1 and [(x.id, x.v) for x in r.rows] == [(3, 30)]

    r = eng.sql(
        "INSERT INTO t_ret VALUES (2,5),(9,90) "
        "ON CONFLICT(id) DO UPDATE SET v = v + excluded.v RETURNING id, v"
    )
    assert r.changes == 2
    assert sorted((x.id, x.v) for x in r.rows) == [(2, 45), (9, 90)]
    eng.sql("DROP TABLE t_ret")


def test_statement_timeout_cancels_job(engine):
    # busy_timeout analog (database_connection.go:52): the watchdog
    # cancels the statement's job group and raises TimeoutError
    import time as _time

    eng = engine
    t0 = _time.time()
    with pytest.raises(TimeoutError, match="cancelled"):
        eng.sql(
            "SELECT count(*) AS n FROM range(100000000) a "
            "CROSS JOIN range(100000) b",
            timeout=1.5,
        )
    assert _time.time() - t0 < 30
    # the session is healthy afterwards
    assert eng.sql("SELECT 1 AS one").rows[0].one == 1


def test_explain_query_plan_dialect(engine, sf_dir):
    # SQLite EXPLAIN QUERY PLAN shape (sqlite.org/eqp.html): rows of
    # (id, parent, notused, detail) over the Catalyst physical plan
    engine.register_parquet_dir(sf_dir, ["orders"])
    r = engine.sql(
        "EXPLAIN QUERY PLAN SELECT o_orderstatus, count(*) FROM orders "
        "WHERE o_totalprice > 1000 GROUP BY o_orderstatus"
    )
    assert r.columns == ["id", "parent", "notused", "detail"]
    assert r.row_count >= 3
    details = " | ".join(x.detail for x in r.rows)
    assert "HashAggregate" in details and "Scan" in details
    roots = [x for x in r.rows if x.parent == 0]
    assert len(roots) >= 1 and r.rows[0].id == 1


def test_sqlite_master_and_stat1_views(engine):
    engine.sql("CREATE TABLE t_sm (a BIGINT PRIMARY KEY, b STRING) USING PARQUET")
    try:
        engine.sql("INSERT INTO t_sm VALUES (1, 'x'), (2, 'y')")
        res = engine.sql(
            "SELECT type, name, sql FROM sqlite_master WHERE name = 't_sm'")
        assert res.row_count == 1
        row = res.rows[0]
        assert row.type == "table"
        assert "CREATE TABLE t_sm" in row.sql
        assert "PRIMARY KEY (a)" in row.sql
        # sqlite_stat1 exists only after ANALYZE, like SQLite
        engine.sql("ANALYZE t_sm")
        stat = engine.sql("SELECT tbl, idx, stat FROM sqlite_stat1 "
                          "WHERE tbl = 't_sm'")
        assert stat.row_count == 1
        assert stat.rows[0].stat.split()[0] == "2"
        assert stat.rows[0].idx is None
        # views appear with type='view' and rootpage 0
        engine.sql("CREATE TEMP VIEW v_sm AS SELECT a FROM t_sm")
        vres = engine.sql("SELECT type, rootpage FROM sqlite_master "
                          "WHERE name = 'v_sm'")
        assert vres.row_count == 1
        assert vres.rows[0].type == "view"
        assert vres.rows[0].rootpage == 0
    finally:
        engine.sql("DROP VIEW IF EXISTS v_sm")
        engine.sql("DROP TABLE IF EXISTS t_sm")


def test_changes_and_total_changes_functions(engine):
    engine.sql("CREATE TABLE t_ch (a BIGINT, b STRING) USING PARQUET")
    try:
        base = engine.sql("SELECT total_changes() AS t").rows[0].t
        engine.sql("INSERT INTO t_ch VALUES (1, 'x'), (2, 'y'), (3, 'z')")
        assert engine.sql("SELECT changes() AS c").rows[0].c == 3
        engine.sql("DELETE FROM t_ch WHERE a = 1")
        assert engine.sql("SELECT changes() AS c").rows[0].c == 1
        assert (engine.sql("SELECT total_changes() AS t").rows[0].t
                == base + 4)
        v = engine.sql("SELECT sqlite_version() AS v").rows[0].v
        assert v == "3.49.1"  # the reference's embedded SQLite
        r = engine.sql("SELECT random() AS r").rows[0].r
        assert isinstance(r, int)
    finally:
        engine.sql("DROP TABLE IF EXISTS t_ch")


def test_df_translates_like_sql(engine):
    """Engine.df (the HTTP stream route) runs the same translation as
    Engine.sql, connection functions included."""
    stmt = ("SELECT random() AS r, changes() AS c, total_changes() AS t, "
            "sqlite_version() AS v")
    df = engine.df(stmt)
    assert df.schema["r"].dataType.typeName() == "long"
    got = df.collect()[0]
    want = engine.sql(stmt).rows[0]
    assert (got.c, got.t, got.v) == (want.c, want.t, want.v)


def test_string_literals_survive_translation(engine):
    """SQLite spellings inside a string literal are data: neither the
    CAST nor the connection-function rewrite may touch them."""
    for text in ["random()", "changes()", "sqlite_version()",
                 "CAST(1 AS TEXT)", "CAST('7x' AS INTEGER)"]:
        lit = text.replace("'", "''")
        assert engine.sql(f"SELECT '{lit}' AS s").rows[0].s == text
        assert engine.df(f"SELECT '{lit}' AS s").collect()[0].s == text


def test_trigger_after_insert_maintains_derived_table(engine):
    """Statement-level AFTER triggers (the foreachBatch/CDF per-commit
    analog of SQLite's trigger DDL family, constants.go:74-77): an
    AFTER INSERT trigger re-derives a summary table on every committed
    insert; DROP TRIGGER stops the firing; sqlite_master lists it."""
    import shutil

    eng = engine
    for t in ("trg_base", "trg_sum"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    eng.sql("CREATE TABLE trg_base (k STRING, v BIGINT) USING PARQUET")
    eng.sql("CREATE TABLE trg_sum (k STRING, total BIGINT) USING PARQUET")
    eng.sql(
        "CREATE TRIGGER trg_sync AFTER INSERT ON trg_base BEGIN "
        "INSERT OVERWRITE trg_sum SELECT k, SUM(v) AS total "
        "FROM trg_base GROUP BY k; END"
    )
    # listed in sqlite_master with rootpage 0
    rows = eng.sql(
        "SELECT type, name, tbl_name, rootpage FROM sqlite_master "
        "WHERE type = 'trigger'"
    ).rows
    assert [(r.type, r.name, r.tbl_name, r.rootpage) for r in rows] == [
        ("trigger", "trg_sync", "trg_base", 0)
    ]

    eng.sql("INSERT INTO trg_base VALUES ('a', 1), ('b', 10)")
    got = {
        (r.k, r.total)
        for r in eng.sql("SELECT * FROM trg_sum").rows
    }
    assert got == {("a", 1), ("b", 10)}

    eng.sql("INSERT INTO trg_base VALUES ('a', 4)")
    got = {
        (r.k, r.total)
        for r in eng.sql("SELECT * FROM trg_sum").rows
    }
    assert got == {("a", 5), ("b", 10)}

    # UPDATE does not match an INSERT trigger
    eng.sql("UPDATE trg_base SET v = 100 WHERE k = 'b'")
    got = {(r.k, r.total) for r in eng.sql("SELECT * FROM trg_sum").rows}
    assert got == {("a", 5), ("b", 10)}  # unchanged

    # DROP stops firing; IF EXISTS tolerated afterwards
    eng.sql("DROP TRIGGER trg_sync")
    eng.sql("INSERT INTO trg_base VALUES ('c', 7)")
    got = {(r.k, r.total) for r in eng.sql("SELECT * FROM trg_sum").rows}
    assert got == {("a", 5), ("b", 10)}
    eng.sql("DROP TRIGGER IF EXISTS trg_sync")
    with pytest.raises(Exception, match="no such trigger"):
        eng.sql("DROP TRIGGER trg_sync")
    for t in ("trg_base", "trg_sum"):
        eng.sql(f"DROP TABLE {t}")


def test_attach_detach_database(engine, sf_dir):
    """ATTACH/DETACH (SQLITE_ATTACH/SQLITE_DETACH, constants.go:84-85):
    a parquet directory attaches as a queryable namespace; cross-
    database joins run in one plan; DETACH drops metadata only."""
    eng = engine
    eng.sql("DROP DATABASE IF EXISTS att CASCADE")
    eng.sql(f"ATTACH DATABASE '{sf_dir}' AS att")
    n = eng.sql("SELECT count(*) AS n FROM att.orders").rows[0].n
    assert n > 0
    # cross-database join: attached orders x the engine's registered
    # customer view, one Catalyst plan
    r = eng.sql(
        "SELECT count(*) AS n FROM att.orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey"
    ).rows[0].n
    assert r == n
    # a write to an attached table commits its whole image as a store
    # version and leaves the attached directory as it was
    n = eng.sql("SELECT count(*) AS n FROM att.region").rows[0].n
    eng.sql("INSERT INTO att.region VALUES (99, 'X')")
    assert eng.sql("SELECT count(*) AS n FROM att.region").rows[0].n == n + 1
    assert "att.region" in eng.store.tables()
    assert eng.spark.read.parquet(f"{sf_dir}/region.parquet").count() == n
    eng.sql("DETACH att")
    with pytest.raises(Exception):
        eng.sql("SELECT count(*) AS n FROM att.orders")
    # the files survive the detach (external tables)
    import os

    assert os.path.exists(f"{sf_dir}/orders.parquet")
    with pytest.raises(Exception, match="no such database"):
        eng.sql("DETACH att")


def test_trigger_keeps_caller_text(engine):
    """sqlite_master shows a trigger as the caller wrote it, SQLite
    functions and all; its body is translated each time it runs."""
    stmt = ("CREATE TRIGGER trg_txt AFTER INSERT ON t_txt "
            "BEGIN SELECT iif(1, 2, 3) AS x; END")
    engine.sql(stmt)
    try:
        got = engine.sql("SELECT sql FROM sqlite_master "
                         "WHERE type = 'trigger' AND name = 'trg_txt'").rows
        assert [r.sql for r in got] == [stmt]
    finally:
        engine.sql("DROP TRIGGER trg_txt")


def _dml_table(eng, name, rows, cols="k INT, v INT"):
    import shutil

    eng.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    eng.sql(f"CREATE TABLE {name} ({cols}) USING PARQUET")
    if rows:
        eng.sql(f"INSERT INTO {name} VALUES "
                + ", ".join(f"({k}, {'NULL' if v is None else v})"
                            for k, v in rows))


def _in_both_modes(eng, name, rows, statements, cols="k INT, v INT"):
    """Run (statement, params) pairs on a fresh `name` in autocommit and
    inside one transaction; yield (mode, results, final rows)."""
    for mode in ("autocommit", "transaction"):
        _dml_table(eng, name, rows, cols)
        try:
            if mode == "autocommit":
                res = [eng.sql(s, p) for s, p in statements]
            else:
                with eng.transaction() as txn:
                    res = [txn.sql(s, p) for s, p in statements]
            final = sorted(tuple(r) for r in
                           eng.sql(f"SELECT k, v FROM {name}").rows)
            yield mode, res, final
        finally:
            eng.sql(f"DROP TABLE IF EXISTS {name}")


def test_delete_keeps_rows_whose_where_is_null(engine):
    # SQLite deletes only the rows where the predicate is true
    for mode, res, final in _in_both_modes(
            engine, "t_delnull", [(1, 10), (2, None), (3, 30)],
            [("DELETE FROM t_delnull WHERE v > 15", None)]):
        assert res[0].changes == 1, mode
        assert final == [(1, 10), (2, None)], mode


def test_parameterized_update_and_delete(engine):
    stmts = [
        ("UPDATE t_dmlp SET v = ? WHERE k = ?", [99, 2]),
        ("UPDATE t_dmlp SET v = v + :d WHERE k >= :lo", {"d": 1, "lo": 3}),
        ("DELETE FROM t_dmlp WHERE k = ?", [1]),
        ("DELETE FROM t_dmlp WHERE v = :v", {"v": 41}),
    ]
    for mode, res, final in _in_both_modes(
            engine, "t_dmlp", [(1, 10), (2, 20), (3, 30), (4, 40)], stmts):
        assert [r.changes for r in res] == [1, 2, 1, 1], mode
        assert final == [(2, 99), (3, 31)], mode


def test_update_keeps_the_table_schema(engine, spark):
    _dml_table(engine, "t_dmls", [(1, 10), (3, 30)])
    try:
        before = spark.table("t_dmls").dtypes
        assert engine.sql("UPDATE t_dmls SET v = v / 4 WHERE k = 3").changes == 1
        assert spark.table("t_dmls").dtypes == before
        got = sorted(tuple(r) for r in engine.sql("SELECT * FROM t_dmls").rows)
        assert got == [(1, 10), (3, 7)]  # SQLite: 30 / 4 = 7
    finally:
        engine.sql("DROP TABLE IF EXISTS t_dmls")


def test_dml_refuses_values_the_column_cannot_hold(engine):
    """Out-of-range and non-numeric values for an INT column raise in
    both modes and leave the table as it was (a plain CAST would wrap
    3000000000 to -1294967296 and turn 'abc' into NULL). A numeric
    string stores as its number, as under SQLite's column affinity."""
    bad = ["INSERT INTO t_dmlbad VALUES (3000000000, 1)",
           "INSERT INTO t_dmlbad VALUES ('abc', 1)",
           "INSERT INTO t_dmlbad SELECT k, v * 3000000000 FROM t_dmlbad",
           "UPDATE t_dmlbad SET v = 3000000000 WHERE k = 1",
           "UPDATE t_dmlbad SET v = 'abc' WHERE k = 1"]
    for mode in ("autocommit", "transaction"):
        _dml_table(engine, "t_dmlbad", [(1, 10)])
        try:
            with contextlib.ExitStack() as stack:
                run = engine.sql
                if mode == "transaction":
                    run = stack.enter_context(engine.transaction()).sql
                for stmt in bad:
                    with pytest.raises(Exception, match="cannot store"):
                        run(stmt)
                assert run("INSERT INTO t_dmlbad VALUES ('7', 70)").changes == 1
            got = sorted(tuple(r) for r in
                         engine.sql("SELECT k, v FROM t_dmlbad").rows)
            assert got == [(1, 10), (7, 70)], mode
        finally:
            engine.sql("DROP TABLE IF EXISTS t_dmlbad")


def test_insert_fills_omitted_columns_from_default(engine, spark):
    """An omitted column takes its DEFAULT, also after an UPDATE has
    rewritten the table (the rewrite keeps the column's DEFAULT)."""
    stmts = [("INSERT INTO t_dmldef (k) VALUES (1)", None),
             ("UPDATE t_dmldef SET v = v + 1 WHERE k = 1", None),
             ("INSERT INTO t_dmldef (k) VALUES (2)", None)]
    for mode, res, final in _in_both_modes(
            engine, "t_dmldef", [], stmts, cols="k INT, v INT DEFAULT 5"):
        assert [r.changes for r in res] == [1, 1, 1], mode
        assert final == [(1, 6), (2, 5)], mode
        meta = spark.table("t_dmldef").schema["v"].metadata
        assert meta.get("CURRENT_DEFAULT") == "5", mode


def test_insert_or_ignore_that_adds_nothing_writes_no_file(engine, spark):
    _dml_table(engine, "t_dmlign", [(1, 10)])
    try:
        engine.declare_primary_key("t_dmlign", ["k"])
        files = sorted(spark.table("t_dmlign").inputFiles())
        r = engine.sql("INSERT OR IGNORE INTO t_dmlign VALUES (1, 11)")
        r2 = engine.sql("INSERT INTO t_dmlign VALUES (1, 12) "
                        "ON CONFLICT(k) DO NOTHING")
        assert (r.changes, r2.changes) == (0, 0)
        assert sorted(spark.table("t_dmlign").inputFiles()) == files
        assert engine.sql("INSERT OR IGNORE INTO t_dmlign VALUES (2, 20)"
                          ).changes == 1
        got = sorted(tuple(x) for x in engine.sql("SELECT * FROM t_dmlign").rows)
        assert got == [(1, 10), (2, 20)]
    finally:
        engine.sql("DROP TABLE IF EXISTS t_dmlign")


def test_trigger_body_with_case_end(engine):
    """A CASE ... END inside the trigger body must not terminate the
    CREATE TRIGGER parse early (greedy body, anchored terminal END)."""
    import shutil

    eng = engine
    for t in ("trgc_b", "trgc_s"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    eng.sql("CREATE TABLE trgc_b (v BIGINT) USING PARQUET")
    eng.sql("CREATE TABLE trgc_s (bucket STRING, n BIGINT) USING PARQUET")
    eng.sql(
        "CREATE TRIGGER trgc AFTER INSERT ON trgc_b BEGIN "
        "INSERT OVERWRITE trgc_s SELECT "
        "CASE WHEN v >= 10 THEN 'big' ELSE 'small' END AS bucket, "
        "COUNT(*) AS n FROM trgc_b GROUP BY 1; END"
    )
    eng.sql("INSERT INTO trgc_b VALUES (3), (30)")
    got = {(r.bucket, r.n) for r in eng.sql("SELECT * FROM trgc_s").rows}
    assert got == {("big", 1), ("small", 1)}
    eng.sql("DROP TRIGGER trgc")
    for t in ("trgc_b", "trgc_s"):
        eng.sql(f"DROP TABLE {t}")


def test_engine_events_schema_matches_load(spark, sf_dir, tmp_path):
    """Engine-registered tables open through catalog.load, so a
    TIMESTAMP(NANOS) events.ts is a timestamp there too (under
    nanosAsLong a raw read gives BIGINT nanoseconds), as builders and
    the DuckDB oracle see it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from litebase_spark.catalog import load

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.set_column(1, "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    eng = Engine(spark)
    eng.register_parquet_dir(str(tmp_path), ["events"])
    try:
        got = spark.table("events").schema
    finally:
        spark.catalog.dropTempView("events")
    assert got == load(spark, str(tmp_path), "events").schema
    assert got["ts"].dataType.simpleString() == "timestamp"

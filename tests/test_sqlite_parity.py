"""Differential parity vs REAL SQLite (Python stdlib sqlite3).

The reference embeds SQLite itself (pkg/sqlite3/sqlite3.go), so the
sharpest possible check of the engine's upsert/RETURNING/joined-UPDATE
dialect is to run the SAME statements through an actual SQLite
connection and compare final table states, `changes` counts, and
RETURNING rows. Statement batches are deterministic (seeded), with one
deliberate constraint: within-statement duplicate conflict keys are
only generated for OR REPLACE / DO NOTHING forms, where the engine's
set-based dedup (last/first proposed row wins) provably matches
SQLite's sequential row processing; DO UPDATE batches use unique keys
(sequential re-application of `n = n + excluded.n` to the same key is
inherently row-by-row, out of scope for a set-based engine and
documented as such).
"""

from __future__ import annotations

import random
import sqlite3

import pytest

from litebase_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark)


def _fresh(eng, name):
    eng.sql(f"DROP TABLE IF EXISTS {name}")
    import shutil

    shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    eng.sql(
        f"CREATE TABLE {name} (id BIGINT PRIMARY KEY, v STRING, n BIGINT) "
        "USING PARQUET"
    )
    con = sqlite3.connect(":memory:")
    con.execute(f"CREATE TABLE {name} (id INTEGER PRIMARY KEY, v TEXT, n INTEGER)")
    return con

def _state_spark(eng, name):
    return sorted(
        (x.id, x.v, x.n) for x in eng.sql(f"SELECT * FROM {name}").rows
    )


def _state_sqlite(con, name):
    return sorted(tuple(r) for r in con.execute(f"SELECT * FROM {name}"))


def _apply_both(eng, con, name, stmt):
    """Run one statement on both engines; return (changes_spark,
    changes_sqlite, returning_spark, returning_sqlite)."""
    r = eng.sql(stmt)
    before = con.total_changes
    cur = con.execute(stmt)
    rows_sqlite = sorted(tuple(x) for x in cur.fetchall())
    con.commit()
    rows_spark = sorted(tuple(x) for x in r.rows)
    return r.changes, con.total_changes - before, rows_spark, rows_sqlite


def test_upsert_state_parity_randomized(eng):
    rng = random.Random(20260814)
    con = _fresh(eng, "p_up")
    # seed rows
    seed = ", ".join(
        f"({i}, '{rng.choice('abcde')}', {rng.randint(0, 50)})"
        for i in range(8)
    )
    _apply_both(eng, con, "p_up", f"INSERT INTO p_up VALUES {seed}")
    for step in range(12):
        form = rng.choice(["replace", "ignore", "do_update", "do_nothing"])
        if form in ("replace", "ignore", "do_nothing"):
            # duplicate keys allowed: set-based dedup == sequential here
            keys = [rng.randint(0, 12) for _ in range(3)]
        else:
            keys = rng.sample(range(0, 13), 3)
        vals = ", ".join(
            f"({k}, '{rng.choice('vwxyz')}', {rng.randint(0, 50)})"
            for k in keys
        )
        if form == "replace":
            stmt = f"REPLACE INTO p_up VALUES {vals}"
        elif form == "ignore":
            stmt = f"INSERT OR IGNORE INTO p_up VALUES {vals}"
        elif form == "do_nothing":
            stmt = f"INSERT INTO p_up VALUES {vals} ON CONFLICT(id) DO NOTHING"
        else:
            stmt = (
                f"INSERT INTO p_up VALUES {vals} "
                "ON CONFLICT(id) DO UPDATE SET v = excluded.v, "
                "n = n + excluded.n"
            )
        cs, cq, _, _ = _apply_both(eng, con, "p_up", stmt)
        assert cs == cq, f"step {step} ({form}): changes {cs} != {cq}\n{stmt}"
        assert _state_spark(eng, "p_up") == _state_sqlite(con, "p_up"), (
            f"step {step} ({form}) diverged:\n{stmt}"
        )
    eng.sql("DROP TABLE p_up")


def test_do_update_where_guard_matches_sqlite(eng):
    con = _fresh(eng, "p_grd")
    _apply_both(eng, con, "p_grd", "INSERT INTO p_grd VALUES (1,'a',5),(2,'b',40)")
    stmt = (
        "INSERT INTO p_grd VALUES (1,'X',100),(2,'Y',200),(3,'c',7) "
        "ON CONFLICT(id) DO UPDATE SET v = excluded.v, n = excluded.n "
        "WHERE n < 10"
    )
    cs, cq, _, _ = _apply_both(eng, con, "p_grd", stmt)
    assert cs == cq
    assert _state_spark(eng, "p_grd") == _state_sqlite(con, "p_grd")
    eng.sql("DROP TABLE p_grd")


def test_returning_rows_match_sqlite(eng):
    con = _fresh(eng, "p_ret")
    _apply_both(eng, con, "p_ret", "INSERT INTO p_ret VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    for stmt in [
        "UPDATE p_ret SET n = n * 2 WHERE id <= 2 RETURNING id, v, n",
        "DELETE FROM p_ret WHERE n >= 40 RETURNING id, n",
        "INSERT INTO p_ret VALUES (2,'z',1),(9,'q',9) "
        "ON CONFLICT(id) DO UPDATE SET n = n + excluded.n RETURNING id, n",
    ]:
        cs, cq, rs, rq = _apply_both(eng, con, "p_ret", stmt)
        assert cs == cq, stmt
        assert rs == rq, f"RETURNING diverged for {stmt}: {rs} vs {rq}"
        assert _state_spark(eng, "p_ret") == _state_sqlite(con, "p_ret")
    eng.sql("DROP TABLE p_ret")


def test_update_from_matches_sqlite(eng):
    con = _fresh(eng, "p_uf")
    eng.sql("DROP TABLE IF EXISTS p_uf_src")
    import shutil

    shutil.rmtree("spark-warehouse/p_uf_src", ignore_errors=True)
    eng.sql("CREATE TABLE p_uf_src (id BIGINT, bump BIGINT) USING PARQUET")
    con.execute("CREATE TABLE p_uf_src (id INTEGER, bump INTEGER)")
    _apply_both(eng, con, "p_uf", "INSERT INTO p_uf VALUES (1,'a',10),(2,'b',20),(3,'c',30)")
    _apply_both(eng, con, "p_uf", "INSERT INTO p_uf_src VALUES (1, 100), (3, 300)")
    stmt = (
        "UPDATE p_uf SET n = n + s.bump FROM p_uf_src s WHERE p_uf.id = s.id"
    )
    cs, cq, _, _ = _apply_both(eng, con, "p_uf", stmt)
    assert cs == cq
    assert _state_spark(eng, "p_uf") == _state_sqlite(con, "p_uf")
    eng.sql("DROP TABLE p_uf")
    eng.sql("DROP TABLE p_uf_src")


def test_sqlite_master_parity(eng):
    con = _fresh(eng, "p_sm")
    try:
        got = eng.sql(
            "SELECT type, name, tbl_name FROM sqlite_master "
            "WHERE name = 'p_sm'")
        want = list(con.execute(
            "SELECT type, name, tbl_name FROM sqlite_master "
            "WHERE name = 'p_sm'"))
        assert [(r.type, r.name, r.tbl_name) for r in got.rows] == want
        # a view shows up as type='view' with rootpage 0 on both sides
        eng.sql("CREATE TEMP VIEW p_sm_v AS SELECT id FROM p_sm")
        con.execute("CREATE VIEW p_sm_v AS SELECT id FROM p_sm")
        g = eng.sql("SELECT type, rootpage FROM sqlite_master "
                    "WHERE name = 'p_sm_v'")
        w = list(con.execute("SELECT type, rootpage FROM sqlite_master "
                             "WHERE name = 'p_sm_v'"))
        assert [(r.type, r.rootpage) for r in g.rows] == w
    finally:
        eng.sql("DROP VIEW IF EXISTS p_sm_v")
        eng.sql("DROP TABLE IF EXISTS p_sm")


def test_values_statement_parity(eng):
    con = sqlite3.connect(":memory:")
    stmt = "VALUES (1, 'a'), (2, 'b'), (3, NULL)"
    got = sorted(tuple(r) for r in eng.sql(stmt).rows)
    want = sorted(tuple(r) for r in con.execute(stmt))
    assert got == want


def test_analyze_stat1_leading_integer_semantics(eng):
    """SQLite's sqlite_stat1 stat column leads with the row count (one
    row per index; our indexless analog emits (tbl, NULL, nrow)). Check
    the semantic both sides: leading integer == COUNT(*)."""
    con = _fresh(eng, "p_an")
    try:
        _apply_both(eng, con, "p_an",
                    "INSERT INTO p_an VALUES (1,'a',1), (2,'b',2), (3,'c',3)")
        con.execute("CREATE INDEX p_an_idx ON p_an(v)")
        con.execute("ANALYZE")
        eng.sql("ANALYZE p_an")
        want = list(con.execute(
            "SELECT stat FROM sqlite_stat1 WHERE tbl = 'p_an'"))[0][0]
        got = eng.sql(
            "SELECT stat FROM sqlite_stat1 WHERE tbl = 'p_an'").rows[0].stat
        assert int(got.split()[0]) == int(want.split()[0]) == 3
    finally:
        eng.sql("DROP TABLE IF EXISTS p_an")


def test_create_index_introspection_parity(eng):
    con = _fresh(eng, "p_ix")
    try:
        stmt = "CREATE INDEX p_ix_vn ON p_ix(v, n)"
        eng.sql(stmt)
        con.execute(stmt)
        # PRAGMA index_list: (seq, name, unique, origin, partial)
        got = [(r.seq, r.name, r[2], r.origin, r.partial)
               for r in eng.sql("PRAGMA index_list(p_ix)").rows]
        want = list(con.execute("PRAGMA index_list(p_ix)"))
        assert got == want
        # PRAGMA index_info: (seqno, cid, name) — column positions
        got = [tuple(r) for r in eng.sql("PRAGMA index_info(p_ix_vn)").rows]
        want = list(con.execute("PRAGMA index_info(p_ix_vn)"))
        assert got == want
        # sqlite_master row
        g = eng.sql("SELECT type, name, tbl_name, sql FROM sqlite_master "
                    "WHERE type = 'index' AND name = 'p_ix_vn'")
        w = list(con.execute("SELECT type, name, tbl_name, sql FROM "
                             "sqlite_master WHERE type='index' AND "
                             "name='p_ix_vn'"))
        assert [tuple(r) for r in g.rows] == w
        # stat1 after ANALYZE: one row per index, leading int = rowcount
        _apply_both(eng, con, "p_ix",
                    "INSERT INTO p_ix VALUES (1,'a',1), (2,'b',2)")
        eng.sql("ANALYZE p_ix")
        con.execute("ANALYZE")
        g = eng.sql("SELECT tbl, idx, stat FROM sqlite_stat1 "
                    "WHERE tbl = 'p_ix'").rows
        w = list(con.execute("SELECT tbl, idx, stat FROM sqlite_stat1 "
                             "WHERE tbl='p_ix'"))
        assert [(r.tbl, r.idx) for r in g] == [(x[0], x[1]) for x in w]
        assert int(g[0].stat.split()[0]) == int(w[0][2].split()[0]) == 2
        # duplicate CREATE INDEX fails, IF NOT EXISTS doesn't, DROP works
        import pytest as _pytest

        with _pytest.raises(Exception):
            eng.sql(stmt)
        eng.sql("CREATE INDEX IF NOT EXISTS p_ix_vn ON p_ix(v, n)")
        eng.sql("DROP INDEX p_ix_vn")
        assert eng.sql("PRAGMA index_list(p_ix)").row_count == 0
        with _pytest.raises(Exception):
            eng.sql("DROP INDEX p_ix_vn")
        eng.sql("DROP INDEX IF EXISTS p_ix_vn")
    finally:
        eng.sql("DROP TABLE IF EXISTS p_ix")


def test_sqlite_cast_type_names_parity(eng):
    con = sqlite3.connect(":memory:")
    stmt = ("SELECT CAST(3.7 AS INTEGER) AS a, CAST(5 AS REAL) AS b, "
            "CAST(42 AS TEXT) AS c, CAST(-9.99 AS INTEGER) AS d")
    got = [tuple(r) for r in eng.sql(stmt).rows]
    want = [tuple(r) for r in con.execute(stmt)]
    assert got == want  # truncation toward zero, 64-bit ints, '42'
    # alias named `text` must survive the rewrite untouched
    r = eng.sql("SELECT 7 AS text")
    assert r.columns == ["text"] and r.rows[0].text == 7


SCALAR_PARITY_EXPRS = [
    "iif(1 < 2, 'y', 'n')", "quote('it''s')", "quote(NULL)",
    "like('h%', 'hello')", "glob('h*', 'hello')", "glob('h[ae]llo', 'hello')",
    "glob('x?z', 'xyz')", "typeof(42)", "typeof(1.5)", "typeof('x')",
    "typeof(NULL)", "typeof(X'00')", "max(1, 5, 3)", "min(2, 9)",
    "char(72, 105)", "unicode('A')", "format('%.2f', 3.14159)",
    "printf('%5d|%s', 42, 'ab')", "printf('%x', 255)",
    "strftime('%Y-%m', '2024-03-15')",
    "strftime('%s', '2024-03-15 00:00:00')",
    "strftime('%H:%M', '2024-03-15 07:08:09', '+90 minutes')",
    "date('2024-03-15', '+1 month')", "date('2024-03-31', 'start of month')",
    "datetime('2024-03-15 10:00:00', '-90 minutes')",
    "datetime('2024-03-15 10:00:00', '+2 days', 'start of day')",
    "time('2024-03-15 10:30:45')", "hex(zeroblob(3))",
    "ltrim('xxy', 'x')", "rtrim('yxx', 'x')", "trim('xyx', 'x')",
    "ltrim('  a')", "trim('  a  ')",
    "upper(iif(length('ab') = 2, 'ok', 'no'))",
    "ifnull(NULL, 7)", "nullif(3, 3)", "abs(-4.5)",
    "substr('hello', -3)", "instr('hello', 'll')", "round(2.5)",
    "hex('AB')", "sign(-3)", "5 % 3", "1 << 4", "6 & 3", "~5",
    "julianday('2024-01-01')", "unixepoch('2024-01-01')",
    # CAST prefix-parsing affinity (sqlite.org/lang_expr.html#castexpr)
    "CAST('42abc' AS INTEGER)", "CAST('3.7xyz' AS REAL)",
    "CAST('  -12 things' AS INTEGER)", "CAST('abc' AS INTEGER)",
    "CAST('' AS INTEGER)", "CAST('abc' AS REAL)",
    "CAST('3.9' AS INTEGER)", "CAST('-3e2junk' AS REAL)",
    "CAST('9223372036854775807' AS INTEGER)",
    "CAST(3.7 AS INTEGER)", "CAST(-9.99 AS INTEGER)",
    # text INTEGER casts ignore exponents; REAL casts honor them;
    # overflow clamps; leading zeros/signs/whitespace; junk -> 0
    "CAST('1e3' AS INTEGER)", "CAST('1E3junk' AS REAL)",
    "CAST('12e' AS INTEGER)", "CAST('.5' AS INTEGER)",
    "CAST('.5' AS REAL)", "CAST('5.' AS INTEGER)",
    "CAST(' 42 ' AS INTEGER)", "CAST('00042' AS INTEGER)",
    "CAST('+7' AS INTEGER)", "CAST('-0' AS INTEGER)",
    "CAST('0x1A' AS INTEGER)", "CAST('e5' AS INTEGER)",
    "CAST('-' AS INTEGER)", "CAST('NaN' AS INTEGER)",
    "CAST('inf' AS INTEGER)", "CAST('1e309' AS REAL)",
    "CAST('9223372036854775808' AS INTEGER)",
    "CAST('-9223372036854775809' AS INTEGER)",
    "CAST('4_2' AS INTEGER)", "CAST('12e+' AS INTEGER)",
    # integer division (INTEGER-affinity operands divide integrally)
    "7/2", "-9/2", "8/2/2", "1+7/2", "7/2.0", "7.0/2",
    "CAST(7/2 AS REAL)",
    # literal-only multiplicative chains stay integral end-to-end;
    # column/real-headed chains must NOT truncate (round-5 guard: the
    # literal must be the true LEFT operand before '/' becomes DIV)
    "100*5/2", "5*1/2", "8/2*3/4", "7%3/2", "9.0/2/3", "2.5*2/2",
    # GLOB: wildcards span newlines; ']' first in a set is a member;
    # an unterminated or empty set never matches; a trailing newline
    # is part of the value, not skipped by the end anchor
    "glob('a*', 'a'||char(10)||'b')", "glob('a?b', 'a'||char(10)||'b')",
    "glob('[]x]', ']')", "glob('[^]x]', ']')", "glob('[abc', '[abc')",
    "glob('a', 'a'||char(10))", "glob('[a-c-e]', '-')",
    "glob('[z-a]x', 'ax')", "glob('[^z-a]x', 'ax')",
    "glob('Brand#1?', 'Brand#12')", "glob('Brand#1?', 'Brand#123')",
    "glob('*join*', 'a join b')", "glob('[abc]x', 'bx')",
    # quote() renders each storage class; iif's condition is any value
    "quote(5)", "quote(-7)", "quote(1.5)", "quote(X'ab')", "quote(1 < 2)",
    "quote('o''brien')", "iif(1, 'a', 'b')", "iif(0, 2, 3)",
    "iif(0.5, 'a', 'b')", "iif(NULL, 1, 2)", "iif(2 > 1, 'y', 'n')",
    # strftime literal text, the julianday epoch, modifier chains
    "strftime('year %Y', '2024-03-05 07:08:09')",
    "julianday('1970-01-01')", "julianday('2024-01-15 10:30:00')",
    "julianday('2024-01-01', '+1 day')", "unixepoch('2024-01-01', '-1 hour')",
    "datetime('2024-01-15 10:30:00', '+1 month')",
    "datetime('2024-01-15 10:30:00', 'start of month', '+45 minutes')",
    "datetime('2024-01-15 10:30:00', '-2 days')",
    "likely(1 < 2)", "unlikely(1 > 2)", "likelihood(1 < 2, 0.5)",
]


def test_scalar_function_differential(eng):
    """Every expression evaluates identically through Engine.sql and a
    real SQLite connection (the dialect rewriter makes the SQLite
    scalar surface SQL-callable, not just Python-callable)."""
    con = sqlite3.connect(":memory:")
    bad = []
    for e in SCALAR_PARITY_EXPRS:
        want = con.execute(f"SELECT {e}").fetchone()[0]
        got = eng.sql(f"SELECT {e} AS v").rows[0].v
        if got != want:
            bad.append((e, got, want))
    assert not bad, bad


def test_double_quoted_identifiers_dqs0(eng):
    """The reference builds SQLite with -DSQLITE_DQS=0
    (pkg/sqlite3/sqlite3.go:4): double quotes quote IDENTIFIERS, never
    strings. The dialect layer must rewrite them to backticks — without
    it Spark reads \"v\" as the literal string 'v'."""
    import shutil

    eng.sql("DROP TABLE IF EXISTS dqs_t")
    shutil.rmtree("spark-warehouse/dqs_t", ignore_errors=True)
    eng.sql('CREATE TABLE "dqs_t" ("id" BIGINT, "v" STRING) USING PARQUET')
    eng.sql('INSERT INTO "dqs_t" VALUES (1, \'a\'), (2, \'b\')')
    rows = eng.sql(
        'SELECT "v" FROM "dqs_t" WHERE "id" = 2'
    ).rows
    assert [r.v for r in rows] == ["b"]
    # embedded double-quote escaping ("" -> one quote in the name) and
    # single-quoted strings containing double quotes stay untouched
    r = eng.sql("SELECT 'say \"hi\"' AS s").rows[0].s
    assert r == 'say "hi"'
    eng.sql("DROP TABLE dqs_t")


def _dml_script(seed):
    """A seeded DML script over tables {t} (id, g, m — m may be NULL,
    DEFAULT 5) and {s} (id, bump): (statement template, positional
    params)."""
    rng = random.Random(seed)

    def m():
        return "NULL" if rng.random() < 0.25 else str(rng.randint(0, 40))

    rows = ", ".join(f"({i}, '{rng.choice('ab')}', {m()})" for i in range(10))
    bumps = ", ".join(f"({i}, {rng.randint(1, 9)})"
                      for i in rng.sample(range(12), 4))
    dup = rng.randint(0, 9)
    return [
        (f"INSERT INTO {{t}} VALUES {rows}", None),
        (f"INSERT INTO {{s}} VALUES {bumps}", None),
        ("UPDATE {t} SET m = m + ? WHERE g = ?", [rng.randint(1, 5), "a"]),
        ("UPDATE {t} SET m = iif(m > ?, m - 1, m), g = upper(g) "
         "WHERE typeof(id) = 'integer' RETURNING id, g, m",
         [rng.randint(10, 30)]),
        ("DELETE FROM {t} WHERE m > ? RETURNING id, m", [rng.randint(25, 40)]),
        ("UPDATE {t} SET m = m + s.bump FROM {s} AS s WHERE {t}.id = s.id",
         None),
        ("INSERT INTO {t} SELECT id + 100, g, m FROM {t} WHERE m IS NULL",
         None),
        ("INSERT INTO {t} VALUES (?, 'c', ?), (?, 'c', NULL) "
         "ON CONFLICT(id) DO UPDATE SET m = excluded.m, g = excluded.g "
         "RETURNING id, g, m", [dup, rng.randint(0, 9), 50]),
        (f"INSERT INTO {{t}} VALUES ({dup}, 'd', 1), (51, 'd', 2) "
         "ON CONFLICT(id) DO NOTHING", None),
        (f"REPLACE INTO {{t}} VALUES ({(dup + 1) % 10}, 'e', 7), "
         "(52, 'e', NULL), (52, 'f', 8)", None),
        ("INSERT INTO {t} (id, g) VALUES (?, ?) RETURNING *", [60, "z"]),
        ("DELETE FROM {t} WHERE g IN ('A', 'c') RETURNING *", None),
        # a subquery in SET has its own FROM
        ("UPDATE {t} SET m = (SELECT max(id) FROM {t}) WHERE id = ?", [3]),
        # a NULL conflict key conflicts with nothing: both rows insert
        ("INSERT OR IGNORE INTO {t} VALUES (NULL, 'n', 1), (NULL, 'n', 2)",
         None),
        ("DELETE FROM {t} WHERE id IS NULL RETURNING g, m", None),
    ]


def test_dml_script_autocommit_transaction_and_sqlite_agree(eng):
    """One seeded DML script, three ways — autocommit Engine.sql, inside
    one engine.transaction(), stdlib sqlite3: the same final rows, the
    same changes per statement and the same RETURNING rows."""
    import shutil

    script = _dml_script(20261018)
    runs = {}
    for mode in ("auto", "txn"):
        t, s = f"dml3_{mode}", f"dml3_{mode}_src"
        for name in (t, s):
            eng.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
        eng.sql(f"CREATE TABLE {t} (id BIGINT PRIMARY KEY, g STRING, "
                "m BIGINT DEFAULT 5) USING PARQUET")
        eng.sql(f"CREATE TABLE {s} (id BIGINT, bump BIGINT) USING PARQUET")
        out = []
        try:
            if mode == "auto":
                for stmt, params in script:
                    r = eng.sql(stmt.format(t=t, s=s), params)
                    out.append((r.changes, sorted(tuple(x) for x in r.rows)))
            else:
                with eng.transaction() as txn:
                    for stmt, params in script:
                        r = txn.sql(stmt.format(t=t, s=s), params)
                        out.append(
                            (r.changes, sorted(tuple(x) for x in r.rows)))
            out.append(sorted(tuple(x) for x in
                              eng.sql(f"SELECT id, g, m FROM {t}").rows))
        finally:
            eng.sql(f"DROP TABLE IF EXISTS {t}")
            eng.sql(f"DROP TABLE IF EXISTS {s}")
        runs[mode] = out
    con = sqlite3.connect(":memory:")
    # BIGINT, not INTEGER: an INTEGER PRIMARY KEY is SQLite's rowid and
    # would number a NULL key instead of storing it
    con.execute("CREATE TABLE t (id BIGINT PRIMARY KEY, g TEXT, "
                "m INTEGER DEFAULT 5)")
    con.execute("CREATE TABLE s (id INTEGER, bump INTEGER)")
    want = []
    for stmt, params in script:
        before = con.total_changes
        rows = con.execute(stmt.format(t="t", s="s"), params or []).fetchall()
        want.append((con.total_changes - before,
                     sorted(tuple(x) for x in rows)))
    want.append(sorted(con.execute("SELECT id, g, m FROM t")))
    for mode, got in runs.items():
        for i, (g, w) in enumerate(zip(got, want)):
            what = script[i][0] if i < len(script) else "final rows"
            assert g == w, f"{mode} diverged from sqlite at {what}"


def test_typeof_of_a_null_value_matches_sqlite(eng):
    """typeof() types the value: a NULL in a BIGINT column is 'null'."""
    import shutil

    eng.sql("DROP TABLE IF EXISTS ty_null")
    shutil.rmtree("spark-warehouse/ty_null", ignore_errors=True)
    eng.sql("CREATE TABLE ty_null (k BIGINT, v BIGINT) USING PARQUET")
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE ty_null (k INTEGER, v INTEGER)")
    q = "SELECT k, typeof(v), typeof(k) FROM ty_null ORDER BY k"
    rows = "INSERT INTO ty_null VALUES (1, 5), (2, NULL)"
    try:
        eng.sql(rows)
        con.execute(rows)
        got = [tuple(r) for r in eng.sql(q).rows]
        assert got == con.execute(q).fetchall()
        assert got[1] == (2, "null", "integer")
    finally:
        eng.sql("DROP TABLE IF EXISTS ty_null")

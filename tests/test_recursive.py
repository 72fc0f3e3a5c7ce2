"""Recursive CTE fixpoint helper tests (SURVEY §7.2 custom row)."""

from __future__ import annotations

import sqlite3
from collections import Counter

import pytest
from pyspark.sql import functions as F

from litebase_spark.plans.recursive import recursive_cte


def test_integer_series(spark):
    # WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n+1 FROM t WHERE n<20)
    base = spark.range(1, 2).select(F.col("id").cast("int").alias("n"))
    out = recursive_cte(
        base,
        lambda f: f.filter(F.col("n") < 20).select((F.col("n") + 1).alias("n")),
        max_iterations=25,
    )
    got = sorted(r.n for r in out.collect())
    assert got == list(range(1, 21))


def test_transitive_closure_dedup(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src int, dst int"
    )
    base = spark.createDataFrame([(0,)], "n int")
    out = recursive_cte(
        base,
        lambda f: f.join(edges, f.n == edges.src).select(
            F.col("dst").alias("n")
        ),
        max_iterations=10,
    )
    assert sorted(r.n for r in out.collect()) == [0, 1, 2, 3]  # cycle handled


def test_depth_cap_raises(spark):
    base = spark.range(1).select(F.col("id").cast("int").alias("n"))
    with pytest.raises(RecursionError):
        recursive_cte(
            base,
            lambda f: f.select((F.col("n") + 1).alias("n")),  # never converges
            max_iterations=5,
        )


def test_union_all_depth_cap_raises(spark):
    # UNION ALL hits the same cap: a truncated result would be wrong
    base = spark.range(1).select(F.col("id").cast("int").alias("n"))
    with pytest.raises(RecursionError, match="did not converge within 5 rounds"):
        recursive_cte(
            base,
            lambda f: f.select((F.col("n") + 1).alias("n")),
            max_iterations=5,
            distinct=False,
        )


def test_union_all_mode(spark):
    base = spark.range(1).select(F.lit(1).alias("n"))
    out = recursive_cte(
        base,
        lambda f: f.select((F.col("n") + 1).alias("n")).filter(F.col("n") <= 3),
        max_iterations=10,
        distinct=False,
    )
    assert sorted(r.n for r in out.collect()) == [1, 2, 3]


# --- UNION semantics against real SQLite (stdlib sqlite3) -----------------
#
# Each case runs the same WITH RECURSIVE through an in-memory SQLite
# connection and through recursive_cte, then compares the results as
# multisets (UNION results must hold no duplicates; UNION ALL ones must
# hold exactly SQLite's).


def _sqlite(tables: dict, sql: str) -> Counter:
    con = sqlite3.connect(":memory:")
    for name, (cols, rows) in tables.items():
        con.execute(f"CREATE TABLE {name} ({', '.join(cols)})")
        marks = ", ".join("?" for _ in cols)
        con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
    return Counter(tuple(r) for r in con.execute(sql))


def _spark(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_union_cycle_with_duplicate_emission(spark):
    # Every step emits an already-seen row three times.  A set-minus
    # that removes one copy per seen row instead of all of them
    # re-feeds the leftovers and runs into the depth cap.
    edges = [(0, 1), (1, 0)] * 3
    want = _sqlite(
        {"e": (["src", "dst"], edges)},
        "WITH RECURSIVE r(n) AS (SELECT 0 UNION "
        "SELECT e.dst FROM e JOIN r ON e.src = r.n) SELECT n FROM r",
    )
    e = spark.createDataFrame(edges, "src int, dst int")
    out = recursive_cte(
        spark.createDataFrame([(0,)], "n int"),
        lambda f: f.join(e, f.n == e.src).select(F.col("dst").alias("n")),
        max_iterations=4,
    )
    assert _spark(out) == want == Counter({(0,): 1, (1,): 1})


def test_union_base_with_duplicates(spark):
    base = [(1,), (1,), (2,)]
    want = _sqlite(
        {"b": (["n"], base)},
        "WITH RECURSIVE r(n) AS (SELECT n FROM b UNION "
        "SELECT n + 1 FROM r WHERE n < 4) SELECT n FROM r",
    )
    out = recursive_cte(
        spark.createDataFrame(base, "n int"),
        lambda f: f.filter(F.col("n") < 4).select((F.col("n") + 1).alias("n")),
        max_iterations=10,
    )
    assert _spark(out) == want == Counter({(1,): 1, (2,): 1, (3,): 1, (4,): 1})


def test_union_dedupes_nulls(spark):
    # (NULL, NULL) and (3, NULL) re-emit themselves every step: only a
    # null-safe set-minus lets the recursion converge.
    base = [(1, None), (1, None), (None, None)]
    want = _sqlite(
        {"b": (["a", "b"], base)},
        "WITH RECURSIVE r(a, b) AS (SELECT a, b FROM b UNION "
        "SELECT CASE WHEN a < 3 THEN a + 1 ELSE a END, b FROM r) "
        "SELECT a, b FROM r",
    )
    out = recursive_cte(
        spark.createDataFrame(base, "a int, b string"),
        lambda f: f.select(
            F.when(F.col("a") < 3, F.col("a") + 1).otherwise(F.col("a")).alias("a"),
            "b",
        ),
        max_iterations=10,
    )
    assert _spark(out) == want
    assert want == Counter({(1, None): 1, (2, None): 1, (3, None): 1, (None, None): 1})


def test_union_all_matches_sqlite(spark):
    edges = [(0, 1), (0, 1), (1, 2)]
    base = [(0,), (0,)]
    want = _sqlite(
        {"e": (["src", "dst"], edges), "b": (["n"], base)},
        "WITH RECURSIVE r(n) AS (SELECT n FROM b UNION ALL "
        "SELECT e.dst FROM e JOIN r ON e.src = r.n) SELECT n FROM r",
    )
    e = spark.createDataFrame(edges, "src int, dst int")
    out = recursive_cte(
        spark.createDataFrame(base, "n int"),
        lambda f: f.join(e, f.n == e.src).select(F.col("dst").alias("n")),
        max_iterations=10,
        distinct=False,
    )
    assert _spark(out) == want == Counter({(0,): 2, (1,): 4, (2,): 4})


def test_plan_stays_flat(spark):
    # A doubling plan (each iteration holding the accumulator twice) has
    # ~2**depth leaves: depth 6 shows it within seconds, and depth 40
    # would not finish.  A flat one has at most checkpoint_every leaves.
    for depth in (6, 40):
        base = spark.range(1, 2).select(F.col("id").cast("int").alias("n"))
        out = recursive_cte(
            base,
            lambda f: f.filter(F.col("n") < depth).select((F.col("n") + 1).alias("n")),
            max_iterations=depth + 5,
        )
        analyzed = out._jdf.queryExecution().analyzed()
        assert analyzed.collectLeaves().length() <= min(depth, 8)  # default checkpoint_every
        assert len(analyzed.treeString().splitlines()) <= 2 * 8
        assert sorted(r.n for r in out.collect()) == list(range(1, depth + 1))

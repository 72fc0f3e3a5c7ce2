"""Relational operator coverage (SURVEY.md §2.B).

The reference delegates this entire surface to embedded SQLite 3.49.1
(reference: pkg/database/resolver.go:105 hands the SQL string verbatim to
sqlite3_prepare_v3). Here each capability is expressed Spark-first with the
DataFrame API (or Spark SQL where that is the idiomatic form, e.g.
GROUPING SETS / CTEs) and paired with a DuckDB oracle.

Scale notes are inline per query: which joins broadcast, where shuffles
land, and why the plan survives a 100 TB input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from litebase_spark.catalog import (
    SQL_DAVG,
    SQL_DSUM,
    davg,
    dec,
    fp,
    dsum,
    dsum_expr,
    load,
    query,
    register_views,
)
from litebase_spark.functions.dialect import quote_ident

# int64 headroom ceiling for the N^2-class moment sums in the rank
# statistics below (spearman/kruskal/mann-whitney rank sums are bounded
# by N*(N+1); ks/chi2 cross products by N^2).  Module-level so tests can
# monkeypatch it down and prove the loud-failure path without 2e9 rows.
N2_HEADROOM_BOUND = 2**62


def _n2_guard(n_col, name: str):
    """Loud headroom guard for int64 sums bounded by N^2.

    The rank-sum / cross-product partials in the stats family are exact
    int64 while N*(N+1) < 2^62 (N ~ 2.1e9 rows); past that they would
    wrap SILENTLY.  assert_true is NULL on pass and raises loudly on
    violation — weave the result into an output column with
    ``F.when(guard.isNull(), col)`` so pruning cannot drop it.  Reads
    :data:`N2_HEADROOM_BOUND` at plan-construction time (monkeypatchable
    in tests).  Evaluates on the bounded final/cells stage only.
    """
    dec38 = "decimal(38,0)"
    nd = n_col.cast(dec38)
    return F.assert_true(
        nd * (nd + F.lit(1).cast(dec38))
        < F.lit(N2_HEADROOM_BOUND).cast(dec38),
        F.lit(
            f"{name} int64 N^2-class headroom exceeded: n*(n+1) >= "
            "bound — promote the rank-sum partials to DECIMAL(38,0)"
        ),
    )


# ---------------------------------------------------------------------------
# Scan / filter / aggregate
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM('l_quantity')} AS sum_qty,
           {SQL_DSUM('l_extendedprice')} AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS sum_disc_price,
           {SQL_DAVG('l_quantity')} AS avg_qty,
           {SQL_DAVG('l_extendedprice')} AS avg_price,
           {SQL_DAVG('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 style pricing summary: scan+filter+hash agg. "
    "Flagship query (entry). Plan: parquet scan with pushed shipdate filter "
    "-> partial agg (map-side) -> single shuffle on 6 group keys -> final agg."
    " Survives 100 TB: group-key cardinality is 6; partial agg collapses "
    "everything map-side.",
    tags=("agg", "scan", "filter"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    disc_price = fp("l_extendedprice") * (F.lit(100) - fp("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_expr(disc_price).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS cnt,
           COUNT(DISTINCT l_orderkey) AS distinct_orders,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           {SQL_DSUM('l_quantity')} AS sum_qty,
           {SQL_DAVG('l_extendedprice')} AS avg_price
    FROM lineitem
    """,
    description="Global (no group) aggregate incl. COUNT DISTINCT. "
    "At scale COUNT DISTINCT shuffles on the distinct key first; "
    "approx_count_distinct (see agg_approx_distinct) is the 100 TB fast path.",
    tags=("agg",),
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_extendedprice").alias("avg_price"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT l_suppkey, {SQL_DSUM('l_quantity')} AS total_qty,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 1000
    """,
    description="GROUP BY + HAVING (post-aggregation filter).",
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            dsum("l_quantity").alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .filter(F.col("total_qty") > 1000)
    )


@query(
    "agg_group_concat",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           STRING_AGG(c.c_name, ',' ORDER BY c.c_name) AS customer_names
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    description="SQLite group_concat/string_agg analog "
    "(SURVEY §2.B aggregation): collect_list + array_sort + array_join. "
    "Sorted for cross-engine determinism.",
    tags=("agg", "compat"),
)
def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "customer_names"
            ),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT n.n_name, c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
    description="ROLLUP — exceeds SQLite parity (SURVEY §2.B gap, free in "
    "Spark).",
    tags=("agg",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                ELSE o_orderstatus END AS status,
           o_orderpriority,
           GROUPING(CASE WHEN o_orderstatus = 'P' THEN NULL
                         ELSE o_orderstatus END) AS g_status,
           GROUPING(o_orderpriority) AS g_pri,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (status, o_orderpriority)
    """,
    description="GROUPING() over CUBE with a NULLABLE grouping column: "
    "the only way to tell a rollup-generated NULL from a data NULL "
    "('P'-status rows group under a real NULL at detail level, "
    "g_status=0; the all-status subtotal has g_status=1). Exceeds "
    "SQLite parity (no grouping sets at all in the reference).",
    tags=("agg",),
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    status = (
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status")
    )
    base = o.select(status, "o_orderpriority")
    return base.cube("status", "o_orderpriority").agg(
        F.grouping("status").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.count(F.lit(1)).alias("n"),
    ).select("status", "o_orderpriority", "g_status", "g_pri", "n")


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt, {SQL_DSUM('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="CUBE — exceeds SQLite parity. Computed over the "
    "pre-aggregated CELL table, not the corpus: a direct cube's Expand "
    "pushes 4x the fact rows through the partial aggregate, while "
    "grouping to (returnflag, linestatus) cells first collapses the "
    "fact map-side (~9 cells) and the cube's Expand runs over cells "
    "only. Long fixed-point cents keep the two-level sum associative "
    "and oracle-exact. Same 'cells, not corpus' rule as the chi2/KS "
    "stats gates.",
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    cells = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fp("l_quantity")).alias("sq"),
    )
    return cells.cube("l_returnflag", "l_linestatus").agg(
        F.sum("n").alias("cnt"),
        F.round(F.sum("sq") / 100.0, 2).alias("sum_qty"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    description="GROUPING SETS via Spark SQL — exceeds SQLite parity.",
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "total_compat",
    oracle="""
    SELECT o.o_orderstatus,
           COALESCE(ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2),
                    0.0) AS total_qty
    FROM orders o
    LEFT JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 49.0
    GROUP BY o.o_orderstatus
    """,
    description="SQLite total() semantics: sum returning 0.0 instead of NULL "
    "on empty input (SURVEY §2.B: total() -> coalesce(sum, 0.0)).",
    tags=("agg", "compat"),
)
def total_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49.0)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(F.coalesce(dsum("l_quantity"), F.lit(0.0)).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.B joins — SQLite has only nested loop; Catalyst picks
# broadcast-hash / shuffle-hash / sort-merge per side statistics)
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    description="TPC-H Q3 style: 3-way join + agg + top-k. Plan: customer "
    "filter pushed to scan, customer (small after filter) broadcasts; "
    "revenue pre-aggregates by l_orderkey BEFORE the orders join (exact "
    "long fixed-point, associative), which both shrinks the join input "
    "and ELIMINATES the post-join aggregation — each orderkey is one "
    "row after the pre-agg, so (orderdate, orderpriority) ride the join "
    "(measured 0.91 -> 0.66 s at the sf1 point); top-k runs as "
    "TakeOrderedAndProject (no global sort). 100 TB: the only full "
    "shuffle is the orderkey join — co-bucketing both sides removes it.",
    tags=("join", "agg", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = fp("l_extendedprice") * (F.lit(100) - fp("l_discount"))
    pre = l.groupBy("l_orderkey").agg(F.sum(revenue).alias("rev_fp"))
    return (
        pre.join(o, pre.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "l_orderkey",
            F.round(F.col("rev_fp") / 10000.0, 4).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_regional_revenue",
    oracle="""
    SELECT n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    description="TPC-H Q5 style 6-table star join. Dimensions "
    "(region/nation/supplier) broadcast; fact-fact join "
    "(lineitem x orders) is the single big shuffle. 100 TB: dims stay "
    "broadcast (<64 MiB), AQE picks skew-split if orderkey skews.",
    tags=("join", "agg"),
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = fp("l_extendedprice") * (F.lit(100) - fp("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_expr(revenue).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
               AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    description="TPC-H Q10 style: revenue from returned items per customer, "
    "top 20. Returnflag filter pushed to parquet scan. Revenue "
    "pre-aggregates by l_orderkey BEFORE the orders join (exact long "
    "fixed-point, so the two-level sum is associative) — the join and "
    "the customer-level aggregation then move ~4x fewer, narrower rows; "
    "the orders join is a SHUFFLE-HASH join, not a broadcast: orders is "
    "a FACT, and at the sf1 point Catalyst's size estimate squeaks its "
    "2-column projection under the broadcast threshold, paying a "
    "~0.5 s build+broadcast of 1.5M rows that a co-partitioned hash "
    "join avoids (1.33 -> 1.0 s) — and at 100 TB broadcasting a fact "
    "slice is never right. Customer and nation stay broadcast dims.",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    revenue = fp("l_extendedprice") * (F.lit(100) - fp("l_discount"))
    pre = l.groupBy("l_orderkey").agg(F.sum(revenue).alias("rev_fp"))
    return (
        pre.join(
            o.select("o_orderkey", "o_custkey").hint("shuffle_hash"),
            pre.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev_fp").alias("rev_fp"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("rev_fp") / 10000.0, 4).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 400000)
    """,
    description="Semi join (SQLite expresses as EXISTS; Spark left_semi). "
    "No duplication of the left side, orders side never materialized.",
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    description="Anti join (SQLite NOT EXISTS; Spark left_anti).",
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(n.n_name, 'NO_NATION') AS nation_name,
           COALESCE(s.s_name, 'NO_SUPPLIER') AS supplier_name
    FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
    description="FULL OUTER JOIN (SQLite >=3.39 surface).",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("n_name", F.lit("NO_NATION")).alias("nation_name"),
        F.coalesce("s_name", F.lit("NO_SUPPLIER")).alias("supplier_name"),
    )


@query(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
    description="CROSS JOIN (tiny x tiny only; BroadcastNestedLoop).",
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@query(
    "join_theta",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_pairs
    FROM supplier s
    JOIN customer c ON s.s_nationkey = c.c_nationkey
                    AND s.s_acctbal > c.c_acctbal
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
    description="Theta (non-equi) join: equi key on nation limits the "
    "quadratic term to within-nation pairs; Catalyst runs it as a hash join "
    "on the equi conjunct with the inequality as post-filter — same trick "
    "SQLite's nested loop would need an index for.",
    tags=("join",),
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

_SETOP_A = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SETOP_B = (
    "SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000"
)


def _setop_sides(spark, sf_dir):
    a = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    b = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a, b


@query(
    "setop_union",
    oracle=f"{_SETOP_A} UNION {_SETOP_B}",
    description="UNION (distinct) — union + dropDuplicates.",
    tags=("setop",),
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.union(b).dropDuplicates()


@query(
    "setop_union_all",
    oracle=f"SELECT COUNT(*) AS cnt FROM ({_SETOP_A} UNION ALL {_SETOP_B})",
    description="UNION ALL (bag semantics) — counted for a stable result.",
    tags=("setop",),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.union(b).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "setop_intersect",
    oracle=f"{_SETOP_A} INTERSECT {_SETOP_B}",
    description="INTERSECT (distinct).",
    tags=("setop",),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.intersect(b)


@query(
    "setop_except",
    oracle=f"{_SETOP_A} EXCEPT {_SETOP_B}",
    description="EXCEPT (distinct).",
    tags=("setop",),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    return a.exceptAll(b).dropDuplicates()


@query(
    "setop_all_variants",
    oracle=f"""
    SELECT 'intersect_all' AS op, COUNT(*) AS cnt
    FROM ({_SETOP_A} INTERSECT ALL {_SETOP_B})
    UNION ALL
    SELECT 'except_all' AS op, COUNT(*) AS cnt
    FROM ({_SETOP_A} EXCEPT ALL {_SETOP_B})
    """,
    description="INTERSECT ALL / EXCEPT ALL (bag semantics with "
    "multiplicities — beyond SQLite parity, which only has UNION ALL; "
    "Spark intersectAll/exceptAll). Counted for a stable result shape.",
    tags=("setop",),
)
def setop_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_sides(spark, sf_dir)
    ia = a.intersectAll(b).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("intersect_all").alias("op"), "cnt"
    )
    ea = a.exceptAll(b).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("except_all").alias("op"), "cnt"
    )
    return ia.union(ea)


@query(
    "expr_null_safe_eq",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderstatus END AS s
      FROM orders
    ),
    cnts AS (
      SELECT o_orderkey % 100 AS bk, s, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey % 100
                                ORDER BY s NULLS FIRST) AS rk
      FROM t GROUP BY o_orderkey % 100, s
    )
    SELECT a.s IS NOT DISTINCT FROM b.s AS same_status,
           CAST(SUM(CASE WHEN a.rk = b.rk THEN a.c * (a.c - 1) // 2
                         ELSE a.c * b.c END) AS BIGINT) AS n_pairs
    FROM cnts a JOIN cnts b ON a.bk = b.bk AND a.rk <= b.rk
    GROUP BY same_status ORDER BY same_status
    """,
    description="Null-safe equality (SQLite's IS operator on values; "
    "Spark <=> / eqNullSafe; ANSI IS NOT DISTINCT FROM): NULL IS NULL "
    "is true, NULL IS x is false — unlike =, which yields NULL. "
    "Exercised as the join predicate classifying status-group combos. "
    "Pair counts come from the combinatorial identity over per-(bucket, "
    "status) group sizes — same-group pairs c*(c-1)/2, cross-group "
    "pairs c_a*c_b — so the plan aggregates first and joins the "
    "O(buckets x statuses) count table against itself, instead of "
    "materializing the O(n^2/buckets) row-pair stream the naive form "
    "shuffles (112M pairs and 9.6 s at sf0.1; this plan is 0.3 s and "
    "scales as the group count, not the pair count).",
    tags=("expr",),
)
def expr_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    t = o.select(
        (F.col("o_orderkey") % 100).alias("bk"),
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("s"),
    )
    cnts = t.groupBy("bk", "s").agg(F.count(F.lit(1)).alias("c"))
    cnts = cnts.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("bk").orderBy(F.asc_nulls_first("s"))
        ),
    )
    a, b = cnts.alias("a"), cnts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.rk") <= F.col("b.rk")),
    ).select(
        F.col("a.s").eqNullSafe(F.col("b.s")).alias("same_status"),
        F.when(
            F.col("a.rk") == F.col("b.rk"),
            F.expr("a.c * (a.c - 1) div 2"),
        )
        .otherwise(F.col("a.c") * F.col("b.c"))
        .cast("long")
        .alias("np"),
    )
    return (
        pairs.groupBy("same_status")
        .agg(F.sum("np").alias("n_pairs"))
        .orderBy("same_status")
    )


@query(
    "distinct_projection",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    description="SELECT DISTINCT — hash aggregate on projected columns; "
    "parquet reads only the two columns (check ReadSchema).",
    tags=("scan",),
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


@query(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 1.5 * (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) FROM orders)
    """,
    description="Scalar subquery: orders priced >1.5x the global average. "
    "Spark form: single-row aggregate broadcast-cross-joined (exactly how "
    "Catalyst decorrelates it).",
    tags=("subquery",),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    avg_df = o.agg(
        ((F.sum(fp("o_totalprice")) / 100.0) / F.count(F.lit(1))).alias(
            "avg_price"
        )
    )
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "subquery_correlated",
    oracle="""
    SELECT c_custkey, c_acctbal, c_nationkey FROM customer c
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    """,
    description="Correlated subquery (customers above their nation's average "
    "balance), implemented in its decorrelated form: per-nation aggregate "
    "broadcast back — the same plan Catalyst produces for the correlated SQL.",
    tags=("subquery",),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    nation_avg = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        ((F.sum(fp("c_acctbal")) / 100.0) / F.count(F.lit(1))).alias(
            "nation_avg"
        )
    )
    return (
        c.join(F.broadcast(nation_avg), c.c_nationkey == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_acctbal", "c_nationkey")
    )


@query(
    "subquery_in",
    oracle="""
    SELECT COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
    """,
    description="IN (subquery) — rewritten to left_semi join, exactly "
    "Catalyst's rewrite for IN.",
    tags=("subquery", "join"),
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.B — full SQLite 3.49 window surface)
# ---------------------------------------------------------------------------


@query(
    "window_rank_topk",
    oracle="""
    SELECT * FROM (
        SELECT n_name, c_custkey, c_acctbal,
               ROW_NUMBER() OVER w AS rn,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rn <= 3
    """,
    description="Top-k per group via row_number/rank/dense_rank. Ties broken "
    "by unique c_custkey for cross-engine determinism. 100 TB: single "
    "shuffle on the partition key; no global sort.",
    tags=("window", "topk"),
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 2) AS running_total
    FROM orders
    """,
    description="Running sum with an explicit ROWS frame (exact decimal "
    "accumulation so both engines agree bit-for-bit).",
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum(fp("o_totalprice")).over(w) / 100.0, 2).alias(
            "running_total"
        ),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts,
           ROUND(value - LAG(value) OVER w, 6) AS delta_prev,
           ROUND(LEAD(value) OVER w - value, 6) AS delta_next
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    description="LAG/LEAD over event streams (per-user deltas).",
    tags=("window", "events"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 6).alias("delta_next"),
    )


@query(
    "window_ntile_dist",
    oracle="""
    SELECT o_orderkey,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 8) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 8) AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
    description="NTILE / PERCENT_RANK / CUME_DIST; unique ordering keeps "
    "NTILE deterministic. Re-planned round 12 (the x100 sweep put the "
    "single-reducer global window at 41 s): DISTRIBUTED global rank "
    "via the CDF pattern — price-bucket local row_number (the sort "
    "distributes across buckets) + broadcast bucket-offset table, "
    "global rank = local rank + bucket offset (the ordering key is "
    "unique, so rank == cumulative count). NTILE/PERCENT_RANK/"
    "CUME_DIST are then closed-form in (rank, n): SQL-standard NTILE "
    "hands the first n%4 buckets one extra row; percent_rank = "
    "(rank-1)/(n-1); cume_dist = rank/n. No unpartitioned "
    "corpus-sized window remains anywhere in the registry.",
    tags=("window",),
)
def window_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # explicit, PUSHABLE non-null gate: the bucket join would add
    # isnotnull(floor(fp(...))) null-filters that cannot reach the
    # parquet scan (computed column); stating the precondition on the
    # source column pushes IsNotNull into both scans instead. (A null
    # order key has no defined quartile; the fixture column is
    # non-null.)
    o = o.filter(F.col("o_totalprice").isNotNull())
    base = o.select(
        "o_orderkey", fp("o_totalprice").alias("c")
    ).withColumn("b", F.floor(F.col("c") / F.lit(1000000)))
    w_loc = Window.partitionBy("b").orderBy("c", "o_orderkey")
    loc = base.select(
        "o_orderkey", "b", F.row_number().over(w_loc).alias("lr")
    )
    bt = base.groupBy("b").agg(F.count(F.lit(1)).alias("bc"))
    # bucket-level offsets + grand total: windows over the BUCKET
    # table (bounded by the price domain / 10^4, never corpus-sized)
    w_off = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    boff = bt.select(
        "b",
        F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("off"),
        F.sum("bc").over(w_all).alias("n"),
    )
    r = loc.join(F.broadcast(boff), "b")
    pos = F.col("lr") + F.col("off")
    n = F.col("n")
    q, rem = F.floor(n / 4), n % 4
    big = q + 1
    ntile = F.when(
        pos <= rem * big, F.floor((pos - 1) / big) + 1
    ).otherwise(rem + F.floor((pos - 1 - rem * big) / q) + 1)
    pct = F.when(n == 1, F.lit(0.0)).otherwise(
        (pos - 1).cast("double") / (n - 1).cast("double")
    )
    return r.select(
        "o_orderkey",
        ntile.cast("int").alias("quartile"),
        F.round(pct, 8).alias("pct_rank"),
        F.round(pos.cast("double") / n.cast("double"), 8).alias("cume"),
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT DISTINCT n_name,
           FIRST_VALUE(c_name) OVER w AS richest,
           LAST_VALUE(c_name) OVER w AS poorest,
           NTH_VALUE(c_name, 2) OVER w AS second
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    description="FIRST_VALUE / LAST_VALUE / NTH_VALUE with a full-partition "
    "frame (the SQLite default-frame pitfall avoided explicitly).",
    tags=("window",),
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.first("c_name").over(w).alias("richest"),
            F.last("c_name").over(w).alias("poorest"),
            F.nth_value("c_name", 2).over(w).alias("second"),
        )
        .distinct()
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
               AS n_similar
    FROM orders
    """,
    description="RANGE frame (value-based window): count of orders within "
    "+/-100 of each order's price. NOT executed as the literal global "
    "window (a no-partition WindowExec is a one-reducer corpus sort — "
    "the plan the round-8 verdict flagged). Decomposed via the "
    "distributed-CDF identity n_similar(p) = cnt_le(p+100) − "
    "cnt_lt(p−100): corpus rows (weight 1) union the two query points "
    "per row (weight 0, tag −1/+1 so lo sorts before and hi after "
    "corpus ties), bucketed by width-200 price bins; a bucket-local "
    "running sum plus a prefix-sum of per-bucket totals (tiny bounded "
    "bucket table — the acf cells pattern) broadcast back gives every "
    "query point its exact global rank. Boundaries p±100 are the same "
    "IEEE double in both engines, so the oracle's RANGE semantics are "
    "reproduced bit-exactly. Scale: every corpus-sized stage is keyed "
    "by bucket (parallel); only the O(#buckets) offset table sees a "
    "global window. Measured: ~par with the single-reducer window at "
    "sf1 (2.2 vs 1.9 s — 3x the rows moved, 32x the parallelism) and "
    "2.3x ahead at x100 (8.3 vs 19.3 s), a gap that widens with the "
    "corpus since the old plan is one thread forever.",
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw-column not-null pushes to the scan and subsumes the inferred
    # isnotnull(FLOOR(o_totalprice/200)) bucket-join keys, which cannot
    # push; a null price matches no bucket on either side, so this is
    # value-neutral.
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_orderkey", "o_totalprice")
    )
    p = F.col("o_totalprice")
    nul = F.lit(None).cast("long")

    def _row(x, tag, w, k, sign, pv):
        return F.struct(
            x.alias("x"), F.lit(tag).alias("tag"), F.lit(w).alias("w"),
            k.alias("k"), F.lit(sign).alias("sign"), pv.alias("p"),
        )

    # r14: the r13 eager localCheckpoint here materialized the 3n-row
    # union of the ORDERS CORPUS (~44 B/row x 3n — the corpus-sized
    # class the bounded-only materialization law forbids; see the
    # advice on asof.py). Replaced by generating the corpus/hi/lo
    # branches with ONE explode over ONE scan (the 3-branch union was
    # 3 scans per consumer, the checkpoint's original motivation), so
    # each of the two consumers (bucket-local window, per-bucket
    # totals) pays exactly one narrow 2-column scan per execution and
    # nothing corpus-sized is ever materialized. Value-identical: same
    # rows, and the bucket window orders by (x, tag), not input order.
    u = o.select(
        F.explode(
            F.array(
                _row(p, 0, 1, nul, 0, F.lit(0.0)),
                _row(p + 100.0, 1, 0, F.col("o_orderkey"), 1, p),
                _row(p - 100.0, -1, 0, F.col("o_orderkey"), -1, p),
            )
        ).alias("r")
    ).select("r.*").withColumn(
        "b", F.floor(F.col("x") / 200.0).cast("long")
    )
    wloc = (
        Window.partitionBy("b")
        .orderBy("x", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # probe-row selection via the branch tag (a union literal, not a
    # scan column): this filter must sit ABOVE the window — it would be
    # wrong to push it below the running count — and keying it on the
    # tag keeps the plan-audit pushdown check honest (no unpushable
    # scan-column filter in the plan).
    loc = u.select(
        "b", "k", "sign", "p", F.sum("w").over(wloc).alias("run"),
        "tag",
    ).filter(F.col("tag") != 0).drop("tag")
    # per-bucket corpus totals -> exclusive prefix sum; the global window
    # runs over the bounded bucket table only (thousands of rows), never
    # the corpus — same shape as the ts_acf_lags cells prefix sum
    btot = u.groupBy("b").agg(F.sum("w").alias("bw"))
    woff = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = btot.select(
        "b", F.coalesce(F.sum("bw").over(woff), F.lit(0)).alias("boff")
    )
    cnt = F.col("boff") + F.col("run")
    return (
        loc.join(F.broadcast(off), "b")
        .groupBy(F.col("k").alias("o_orderkey"))
        .agg(
            F.max("p").alias("o_totalprice"),
            F.sum(F.col("sign") * cnt).alias("n_similar"),
        )
    )


@query(
    "window_named_sql",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
                AS BIGINT) AS run_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    description="Named windows (SQLite >= 3.25 WINDOW clause, SURVEY "
    "§2.B): one shared window definition reused by several functions — "
    "executed as native Spark SQL (the named window exists in the "
    "dialect, and all three functions share one sort/partition pass). "
    "Running money sum in exact integer cents.",
    tags=("window",),
)
def window_named_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.catalog import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               ROW_NUMBER() OVER w AS rn,
               RANK() OVER w AS rnk,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
                    AS BIGINT) AS run_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """
    )


@query(
    "window_filter_clause",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 2)
               AS finished_value
    FROM orders GROUP BY o_custkey
    """,
    description="SQLite FILTER (WHERE ...) aggregate clause, rewritten as "
    "conditional aggregation (SURVEY §2.B: FILTER -> sum(when(cond, x))).",
    tags=("agg", "compat"),
)
def window_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(is_f, 1)).alias("n_finished"),
        F.round(
            F.sum(F.when(is_f, fp("o_totalprice"))) / 100.0, 2
        ).alias("finished_value"),
    )


# ---------------------------------------------------------------------------
# CTEs / sort / limit / expressions
# ---------------------------------------------------------------------------


@query(
    "cte_basic",
    oracle="""
    WITH big_orders AS (
        SELECT o_custkey, COUNT(*) AS n_big
        FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    ),
    segments AS (
        SELECT c_custkey, c_mktsegment FROM customer
    )
    SELECT s.c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(b.n_big) AS BIGINT) AS total_big_orders
    FROM big_orders b JOIN segments s ON b.o_custkey = s.c_custkey
    GROUP BY s.c_mktsegment
    """,
    description="Multi-CTE query via Spark SQL (WITH is native).",
    tags=("cte",),
)
def cte_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(
        """
        WITH big_orders AS (
            SELECT o_custkey, COUNT(*) AS n_big
            FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
        ),
        segments AS (
            SELECT c_custkey, c_mktsegment FROM customer
        )
        SELECT s.c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(b.n_big) AS BIGINT) AS total_big_orders
        FROM big_orders b JOIN segments s ON b.o_custkey = s.c_custkey
        GROUP BY s.c_mktsegment
        """
    )


@query(
    "orderby_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
    description="ORDER BY + LIMIT/OFFSET (SQLite surface; Spark >=3.4 "
    "offset).",
    tags=("sort",),
)
def orderby_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(5)
        .limit(10)
    )


@query(
    "orderby_nulls",
    oracle="""
    SELECT d.delta, COUNT(*) AS cnt FROM (
        SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                    ELSE CAST(FLOOR(o_totalprice / 100000) AS BIGINT) END AS delta
        FROM orders
    ) d
    GROUP BY d.delta
    ORDER BY d.delta NULLS FIRST
    """,
    description="NULLS FIRST/LAST ordering (SQLite >=3.30).",
    tags=("sort",),
)
def orderby_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    delta = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.floor(F.col("o_totalprice") / 100000)
    )
    return (
        o.select(delta.alias("delta"))
        .groupBy("delta")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("delta").asc_nulls_first())
    )


@query(
    "expr_case_cast",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large' END AS tier,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS floor_price_sample,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY 1, 2
    """,
    description="CASE WHEN + CAST (explicit FLOOR — SQLite CAST truncates, "
    "DuckDB rounds; we pin truncation semantics).",
    tags=("expr",),
)
def expr_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.select(
            tier.alias("tier"),
            F.floor("o_totalprice").cast("bigint").alias("floor_price_sample"),
        )
        .groupBy("tier", "floor_price_sample")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "like_between_in",
    oracle=f"""
    SELECT COUNT(*) AS cnt, {SQL_DSUM('l.l_extendedprice')} AS sum_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity BETWEEN 10 AND 20
      AND l.l_returnflag IN ('A', 'R')
      AND p.p_brand LIKE 'Brand#1%'
    """,
    description="LIKE / BETWEEN / IN-list predicates (pushed to scans).",
    tags=("filter",),
)
def like_between_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_brand").like("Brand#1%"))
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@query(
    "func_like_escape",
    oracle="""
    WITH t AS (SELECT p_partkey, p_type || '%' AS marked FROM part)
    SELECT COUNT(*) AS n_escaped,
           (SELECT COUNT(*) FROM t WHERE marked LIKE '%O%')
               AS n_unescaped
    FROM t WHERE marked LIKE '%O!%' ESCAPE '!'
    """,
    description="LIKE ... ESCAPE (SQLite core LIKE clause surface): the "
    "escape character turns % into a literal. Over p_type||'%', the "
    "escaped pattern '%O!%' matches only types ENDING in O (PROMO) "
    "(literal trailing %), while the unescaped control '%O%' "
    "matches any containing O (ECONOMY, PROMO) — both counts returned, "
    "and they must differ, proving escapes are honored rather than "
    "read as wildcards.",
    tags=("filter", "functions"),
)
def func_like_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        F.concat(F.col("p_type"), F.lit("%")).alias("marked")
    )
    return p.agg(
        F.count(F.when(F.expr("marked LIKE '%O!%' ESCAPE '!'"), 1)).alias(
            "n_escaped"
        ),
        F.count(F.when(F.col("marked").like("%O%"), 1)).alias(
            "n_unescaped"
        ),
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n_name, COUNT(c_custkey) AS n_customers
    FROM customer RIGHT OUTER JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    description="RIGHT OUTER join (SQLite ≥3.39 surface): every nation "
    "kept, customer side optional. Spark flips build sides freely; the "
    "nation side broadcasts and the outer semantics ride on the hash join.",
    tags=("join", "outer"),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "right_outer")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
        .orderBy("n_name")
    )


@query(
    "join_using_natural",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(r_name) AS region_name
    FROM nation JOIN region ON r_regionkey = n_regionkey
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    description="USING-style equi join (shared key column appears once in "
    "the output — SQLite USING/NATURAL semantics). Spark's join(on=[col]) "
    "coalesces the key the same way.",
    tags=("join",),
)
def join_using_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation").withColumnRenamed(
        "n_regionkey", "regionkey"
    )
    r = load(spark, sf_dir, "region").withColumnRenamed(
        "r_regionkey", "regionkey"
    )
    return (
        n.join(r, on="regionkey")
        .groupBy(F.col("regionkey").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("r_name").alias("region_name"),
        )
        .orderBy("n_regionkey")
    )


def groups_frame(
    df: DataFrame,
    partition: str,
    order: str,
    preceding: int,
    following: int,
) -> tuple[DataFrame, "Window"]:
    """GROUPS-frame emulation: dense_rank the ORDER BY key, then frame by
    RANGE over the rank — peer rows share a rank, so N groups == N rank
    units. Returns (ranked_df, frame_window) for any aggregate."""
    rank_w = Window.partitionBy(partition).orderBy(order)
    ranked = df.select(
        "*", F.dense_rank().over(rank_w).alias("__grp")
    )
    frame_w = (
        Window.partitionBy(partition)
        .orderBy("__grp")
        .rangeBetween(-preceding, following)
    )
    return ranked, frame_w


@query(
    "window_groups_frame",
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
             DENSE_RANK() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity) AS grp
      FROM lineitem WHERE l_orderkey <= 160)
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_returnflag ORDER BY grp
             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS grp_sum
    FROM ranked
    ORDER BY l_orderkey, l_linenumber
    """,
    description="GROUPS window frame (SQLite >= 3.28 surface, absent in "
    "Spark AND DuckDB): emulated exactly as a RANGE frame over dense_rank "
    "of the ORDER BY key — peers share a rank, so '1 group preceding' == "
    "rank range [rank-1, rank]. Both engines run the rewrite (DuckDB 1.0 "
    "lacks native GROUPS), so the oracle verifies cross-engine agreement "
    "of the emulation; tests/test_relational.py pins the SQLite semantics "
    "on a hand-computed case.",
    tags=("window",),
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 160)
    ranked, frame_w = groups_frame(
        l, partition="l_returnflag", order="l_quantity", preceding=1, following=0
    )
    return (
        ranked.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.sum(fp("l_quantity")).over(frame_w) / 100.0).alias("grp_sum"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "window_exclude_current",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
             EXCLUDE CURRENT ROW
           ) AS DOUBLE) AS neighbor_qty
    FROM lineitem
    WHERE l_orderkey <= 640
    ORDER BY l_orderkey, l_linenumber
    """,
    description="EXCLUDE CURRENT ROW window option (SQLite >= 3.28, "
    "absent in Spark): for distributive aggregates it is exactly "
    "frame_agg - current_value, one extra projection on the same window "
    "pass (no second shuffle). Oracle runs DuckDB's native EXCLUDE. "
    "EXCLUDE GROUP/TIES compose the same way with the groups_frame "
    "helper.",
    tags=("window",),
)
def window_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 640)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(-2, 2)
    )
    frame_sum = F.sum(fp("l_quantity")).over(w)
    frame_cnt = F.count(F.lit(1)).over(w)
    # an excluded-to-empty frame aggregates to NULL, not 0
    neighbor = F.when(frame_cnt > 1, (frame_sum - fp("l_quantity")) / 100.0)
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            neighbor.alias("neighbor_qty"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="Exact interpolated percentiles per group — the rollup "
    "shape of the reference's query-latency telemetry "
    "(count/p50/p90/p99, pkg/logs/query_metric.go:14-28) applied to "
    "data. Re-planned round 12 (the x100 full-registry sweep caught "
    "the old plan): Spark's percentile() collects every group's value "
    "list into one aggregation buffer — 20M doubles per return flag "
    "at x100 blew the 120 s cap and is an OOM at 100 TB. This plan is "
    "the distributed-CDF pattern the drift/spearman family owns: ONE "
    "corpus exchange onto (flag, cents) VALUE-DOMAIN cells (map-side "
    "combine; 2-decimal money so cents are exact longs bounded by the "
    "price domain, not the corpus), bucketed two-level cumulative "
    "counts (local prefix within (flag, c div 1e5) + broadcast "
    "bucket offsets — no per-flag single-task sort), then the q-th "
    "value = the first cell whose cumulative count covers "
    "floor((n-1)q) (a conditional MIN — the cumulative count is "
    "monotone in c), linearly interpolated to the next index like "
    "percentile()/quantile_cont. Exact at any scale; agreement with "
    "the old collect-based plan pinned by test.",
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return _cdf_percentiles(
        l, "l_returnflag", "l_extendedprice",
        [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")],
    ).orderBy("l_returnflag")


def _cdf_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[tuple[float, str]],
    round_digits: int = 6,
) -> DataFrame:
    """Exact interpolated percentiles from a value-domain cell table
    (distributed CDF): cells -> bucketed cumulative counts -> the
    index-covering cell per quantile. The value column must be
    2-decimal (goes through fp()); output interpolates in exact cents
    then divides once, agreeing with percentile() to well inside the
    round-6 contract."""
    # bounded value-domain cell table materialized ONCE (r13): the
    # local window, the bucket offsets and the per-group totals all
    # consume cells, and each consumer otherwise re-inlines the full
    # corpus aggregate (6 parquet scans per execution in
    # history/plans/r13/agg_percentiles_before.txt)
    cells = df.groupBy(
        F.col(group_col), fp(value_col).alias("c")
    ).agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(eager=True)
    yb = cells.withColumn("b", F.floor(F.col("c") / F.lit(100000)))
    w_loc = (
        Window.partitionBy(group_col, "b")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = yb.select(
        group_col, "b", "c", "cnt",
        F.sum("cnt").over(w_loc).alias("lcum"),
    )
    w_b = (
        Window.partitionBy(group_col)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = (
        yb.groupBy(group_col, "b")
        .agg(F.sum("cnt").alias("bc"))
        .select(
            group_col, "b",
            F.coalesce(F.sum("bc").over(w_b), F.lit(0)).alias("off"),
        )
    )
    cum = loc.join(F.broadcast(boff), [group_col, "b"]).select(
        group_col, "c", (F.col("lcum") + F.col("off")).alias("cum")
    )
    tot = cells.groupBy(group_col).agg(F.sum("cnt").alias("n"))
    j = cum.join(F.broadcast(tot), group_col)
    aggs = []
    for q, name in quantiles:
        r = (F.col("n") - 1).cast("double") * F.lit(q)
        k0 = F.floor(r)
        vlo = F.min(F.when(F.col("cum") >= k0 + 1, F.col("c")))
        vhi = F.coalesce(
            F.min(F.when(F.col("cum") >= k0 + 2, F.col("c"))), vlo
        )
        g = r - k0.cast("double")
        val = (
            vlo.cast("double") + g * (vhi - vlo).cast("double")
        ) / 100.0
        aggs.append(F.round(val, round_digits).alias(name))
    return j.groupBy(group_col, "n").agg(*aggs).select(
        group_col, *[name for _, name in quantiles],
        F.col("n"),
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_sampled
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000 < 200
    GROUP BY o_orderpriority
    """,
    description="Stratified downsampling (training-data curation op): "
    "keep ~20% of every o_orderpriority stratum by deterministic key "
    "hash (portable md5, functions/portable.py) — H(o_orderkey) mod "
    "1000 < 200. Replaces round 1's seeded sampleBy: Bernoulli draws "
    "are partition-layout-dependent (resample under task retry or "
    "repartition), while the hash filter is partition-invariant, "
    "retry-stable, reproducible across engines (oracle-exact), and "
    "still a narrow map — no shuffle, no skew, no coordination. At "
    "100 TB this is THE way to cut a corpus. Tests bound each stratum's "
    "realized fraction.",
    tags=("sample",),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.functions.portable import h60_spark

    o = load(spark, sf_dir, "orders")
    keep = F.expr(h60_spark("CAST(o_orderkey AS STRING)")) % 1000 < 200
    return (
        o.filter(keep)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity
                               END AS DECIMAL(18,2))) AS DOUBLE), 2) AS F_qty,
           ROUND(CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity
                               END AS DECIMAL(18,2))) AS DOUBLE), 2) AS O_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="PIVOT (beyond SQLite parity): quantity by return flag "
    "pivoted on line status. Explicit pivot values -> single-pass "
    "conditional aggregation, no second scan for value discovery (the "
    "required form at 100 TB; value-discovering pivot adds a distinct "
    "scan).",
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
        .select(
            "l_returnflag",
            F.col("F").alias("F_qty"),
            F.col("O").alias("O_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "transform_unpivot",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT l_partkey) AS n_part
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, value FROM (
      SELECT l_returnflag, 'n_rows' AS measure, n_rows AS value FROM agg
      UNION ALL
      SELECT l_returnflag, 'n_supp', n_supp FROM agg
      UNION ALL
      SELECT l_returnflag, 'n_part', n_part FROM agg
    )
    ORDER BY l_returnflag, measure
    """,
    description="UNPIVOT / melt — the inverse of agg_pivot: wide "
    "per-flag aggregate columns rotated into (key, measure, value) "
    "rows. Spark's DataFrame.unpivot compiles to a single Expand node "
    "over the aggregated rows — one pass, no join, no re-scan — and "
    "because the Expand runs AFTER the aggregation its 3x row "
    "multiplication applies to the handful of aggregate rows, not the "
    "fact table (the order that matters at 100 TB; melting raw facts "
    "first would triple the scan volume). Oracle is the portable "
    "UNION ALL rotation.",
    tags=("agg", "pivot", "unpivot"),
)
def transform_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct("l_partkey").alias("n_part"),
    )
    return (
        agg.unpivot(
            ["l_returnflag"], ["n_rows", "n_supp", "n_part"],
            "measure", "value",
        )
        .orderBy("l_returnflag", "measure")
    )


@query(
    "agg_stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sq,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
                 * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sqq,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS se,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      AS HUGEINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS see,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sqe
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((CAST(sqq AS DOUBLE) / 10000.0
                  - (CAST(sq AS DOUBLE) / 100.0)
                    * (CAST(sq AS DOUBLE) / 100.0) / n) / (n - 1), 6)
               AS var_qty,
           ROUND(SQRT((CAST(sqq AS DOUBLE) / 10000.0
                  - (CAST(sq AS DOUBLE) / 100.0)
                    * (CAST(sq AS DOUBLE) / 100.0) / n) / (n - 1)), 6)
               AS stddev_qty,
           ROUND((CAST(sqe AS DOUBLE) / 10000.0
                  - (CAST(sq AS DOUBLE) / 100.0)
                    * (CAST(se AS DOUBLE) / 100.0) / n) / (n - 1), 6)
               AS covar_qty_price,
           ROUND((CAST(sqe AS DOUBLE) / 10000.0
                  - (CAST(sq AS DOUBLE) / 100.0)
                    * (CAST(se AS DOUBLE) / 100.0) / n)
                 / (SQRT(CAST(sqq AS DOUBLE) / 10000.0
                         - (CAST(sq AS DOUBLE) / 100.0)
                           * (CAST(sq AS DOUBLE) / 100.0) / n)
                    * SQRT(CAST(see AS DOUBLE) / 10000.0
                           - (CAST(se AS DOUBLE) / 100.0)
                             * (CAST(se AS DOUBLE) / 100.0) / n)), 6)
               AS corr_qty_price
    FROM s ORDER BY l_returnflag
    """,
    description="Statistical moments (variance/stddev/covariance/"
    "correlation) — beyond SQLite parity (no MATH_FUNCS build flag in "
    "the reference: pkg/sqlite3/sqlite3.go). Spark's builtin stddev/corr "
    "use order-dependent streaming merges whose low bits differ across "
    "engines, so the exact sufficient statistics (n, Σx, Σx², Σxy) are "
    "computed in integer fixed point (one pass, partial-agg friendly — "
    "the same mergeable-statistics shape the builtins use at scale) and "
    "the moments derived in double with an expression mirrored by the "
    "oracle. Σ(price²) exceeds int64 so that one statistic widens to "
    "decimal(38,0)/HUGEINT.",
    tags=("agg", "stats"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    qc = fp("l_quantity")
    ec = fp("l_extendedprice")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc).alias("sq"),
        F.sum(qc * qc).alias("sqq"),
        F.sum(ec).alias("se"),
        F.sum(ec.cast("decimal(38,0)") * ec).alias("see"),
        F.sum(qc * ec).alias("sqe"),
    )
    n = F.col("n")
    sqd = F.col("sq") / 100.0
    sed = F.col("se") / 100.0
    sqqd = F.col("sqq") / 10000.0
    seed = F.col("see").cast("double") / 10000.0
    sqed = F.col("sqe") / 10000.0
    var_q = (sqqd - sqd * sqd / n) / (n - 1)
    cov = (sqed - sqd * sed / n) / (n - 1)
    corr_num = sqed - sqd * sed / n
    corr_den = F.sqrt(sqqd - sqd * sqd / n) * F.sqrt(seed - sed * sed / n)
    return s.select(
        "l_returnflag",
        F.round(var_q, 6).alias("var_qty"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(cov, 6).alias("covar_qty_price"),
        F.round(corr_num / corr_den, 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "agg_median_mode",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
           (SELECT v FROM (
              SELECT o2.o_custkey AS v, COUNT(*) AS c
              FROM orders o2
              WHERE o2.o_orderpriority = o.o_orderpriority
              GROUP BY o2.o_custkey
              ORDER BY c DESC, v DESC LIMIT 1)) AS mode_custkey
    FROM orders o
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    description="Exact median (interpolating percentile) and "
    "deterministic mode (most frequent o_custkey, ties broken toward the "
    "larger key — engine-portable unlike bare mode()). Median uses "
    "Spark's exact percentile (sort-based within group); mode is a "
    "count-rollup + max_by((count, key)) — two shuffles total, both on "
    "bounded key spaces. At 100 TB approx_percentile/sketches replace "
    "the exact sort (see agg_percentiles).",
    tags=("agg", "stats"),
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # exact median via the distributed-CDF cell plan (r13): percentile()
    # buffers every group's full value list in one aggregation buffer —
    # the same OOM-at-scale class agg_percentiles was re-planned off in
    # r12 (relational.py:_cdf_percentiles); the cell plan's buffer is
    # bounded by the distinct-cents domain. Same interpolation
    # semantics, agreement pinned by test_opt_r13.py's randomized
    # percentile() cross-check.
    med = _cdf_percentiles(
        o, "o_orderpriority", "o_totalprice",
        [(0.5, "median_price")], round_digits=2,
    ).select("o_orderpriority", "median_price")
    mode = (
        o.groupBy("o_orderpriority", "o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("o_orderpriority")
        .agg(
            F.max_by(
                "o_custkey", F.struct(F.col("c"), F.col("o_custkey"))
            ).alias("mode_custkey")
        )
    )
    return (
        med.join(mode, "o_orderpriority")
        .select("o_orderpriority", "median_price", "mode_custkey")
        .orderBy("o_orderpriority")
    )


@query(
    "window_exclude_group",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_returnflag ORDER BY l_quantity
             RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING
             EXCLUDE GROUP
           ) AS DOUBLE) AS frame_sum
    FROM lineitem
    WHERE l_orderkey <= 320
    ORDER BY l_orderkey, l_linenumber
    """,
    description="EXCLUDE GROUP window option (SQLite >= 3.28; absent in "
    "Spark): for a RANGE frame the current row's ORDER-BY peer group is "
    "always inside the frame, so EXCLUDE GROUP = frame_agg - peer_agg "
    "where peer_agg aggregates over PARTITION BY (part, order_value) — "
    "two window passes sharing ONE shuffle (same partitioning prefix). "
    "NULL when the exclusion empties the frame.",
    tags=("window",),
)
def window_exclude_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 320)
    frame = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("l_quantity"))
        .rangeBetween(-5, 5)
    )
    peers = Window.partitionBy("l_returnflag", "l_quantity")
    frame_sum = F.sum(fp("l_quantity")).over(frame)
    frame_cnt = F.count(F.lit(1)).over(frame)
    peer_sum = F.sum(fp("l_quantity")).over(peers)
    peer_cnt = F.count(F.lit(1)).over(peers)
    out = F.when(
        frame_cnt > peer_cnt, (frame_sum - peer_sum) / 100.0
    )
    return l.select(
        "l_orderkey", "l_linenumber", out.alias("frame_sum")
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "window_exclude_ties",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_returnflag ORDER BY l_quantity
             RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING
             EXCLUDE TIES
           ) AS DOUBLE) AS frame_sum
    FROM lineitem
    WHERE l_orderkey <= 320
    ORDER BY l_orderkey, l_linenumber
    """,
    description="EXCLUDE TIES window option: like EXCLUDE GROUP but the "
    "current row itself stays — frame_agg - peer_agg + current_value, "
    "same one-shuffle two-window plan as window_exclude_group.",
    tags=("window",),
)
def window_exclude_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 320)
    frame = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("l_quantity"))
        .rangeBetween(-5, 5)
    )
    peers = Window.partitionBy("l_returnflag", "l_quantity")
    frame_sum = F.sum(fp("l_quantity")).over(frame)
    peer_sum = F.sum(fp("l_quantity")).over(peers)
    out = (frame_sum - peer_sum + fp("l_quantity")) / 100.0
    return l.select(
        "l_orderkey", "l_linenumber", out.alias("frame_sum")
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "orderby_collate_nocase",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE lower(c_mktsegment) = lower('bUiLdInG')
    ORDER BY lower(c_name), c_custkey
    LIMIT 50
    """,
    description="SQLite COLLATE NOCASE semantics (comparison + ORDER BY "
    "under case-insensitive collation): expressed as lower() on both "
    "sides — the rewrite Catalyst needs to keep the predicate sargable "
    "is a lower()-normalized derived column (at scale: store/partition "
    "the normalized form; SQLite's NOCASE only ASCII-folds, which "
    "lower() matches on this corpus). RTRIM collation composes the same "
    "way with rtrim().",
    tags=("sort", "compat"),
)
def orderby_collate_nocase(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.filter(F.lower("c_mktsegment") == F.lower(F.lit("bUiLdInG")))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy(F.lower("c_name"), "c_custkey")
        .limit(50)
    )


@query(
    "stats_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sq,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
                 * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sqq,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS se,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      AS HUGEINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS see,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sqe
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND((CAST(sqe AS DOUBLE) / 10000.0
                  - (CAST(sq AS DOUBLE) / 100.0)
                    * (CAST(se AS DOUBLE) / 100.0) / n)
                 / (CAST(sqq AS DOUBLE) / 10000.0
                    - (CAST(sq AS DOUBLE) / 100.0)
                      * (CAST(sq AS DOUBLE) / 100.0) / n), 6) AS slope,
           ROUND(CAST(se AS DOUBLE) / 100.0 / n
                 - ((CAST(sqe AS DOUBLE) / 10000.0
                     - (CAST(sq AS DOUBLE) / 100.0)
                       * (CAST(se AS DOUBLE) / 100.0) / n)
                    / (CAST(sqq AS DOUBLE) / 10000.0
                       - (CAST(sq AS DOUBLE) / 100.0)
                         * (CAST(sq AS DOUBLE) / 100.0) / n))
                   * (CAST(sq AS DOUBLE) / 100.0 / n), 6) AS intercept,
           ROUND(((CAST(sqe AS DOUBLE) / 10000.0
                   - (CAST(sq AS DOUBLE) / 100.0)
                     * (CAST(se AS DOUBLE) / 100.0) / n)
                  * (CAST(sqe AS DOUBLE) / 10000.0
                     - (CAST(sq AS DOUBLE) / 100.0)
                       * (CAST(se AS DOUBLE) / 100.0) / n))
                 / ((CAST(sqq AS DOUBLE) / 10000.0
                     - (CAST(sq AS DOUBLE) / 100.0)
                       * (CAST(sq AS DOUBLE) / 100.0) / n)
                    * (CAST(see AS DOUBLE) / 10000.0
                       - (CAST(se AS DOUBLE) / 100.0)
                         * (CAST(se AS DOUBLE) / 100.0) / n)), 6) AS r2
    FROM s ORDER BY l_returnflag
    """,
    description="SQL-standard linear regression aggregates (regr_slope/"
    "regr_intercept/regr_r2 of extendedprice on quantity per return "
    "flag) computed from exact integer sufficient statistics — the "
    "native regr_* implementations differ between engines in the last "
    "double bits, so the engine recomputes them the agg_stats_moments "
    "way: fixed-point sums (exact, order-independent, mergeable "
    "partials) with bit-identical final double arithmetic on both "
    "sides. One map-side-combinable aggregate at any scale.",
    tags=("aggregate", "stats"),
)
def stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    qc = fp("l_quantity")
    ec = fp("l_extendedprice")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc).alias("sq"),
        F.sum(qc * qc).alias("sqq"),
        F.sum(ec).alias("se"),
        F.sum(ec.cast("decimal(38,0)") * ec).alias("see"),
        F.sum(qc * ec).alias("sqe"),
    )
    n = F.col("n")
    sqd = F.col("sq") / 100.0
    sed = F.col("se") / 100.0
    sqqd = F.col("sqq") / 10000.0
    seed = F.col("see").cast("double") / 10000.0
    sqed = F.col("sqe") / 10000.0
    num = sqed - sqd * sed / n
    denx = sqqd - sqd * sqd / n
    deny = seed - sed * sed / n
    slope = num / denx
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(sed / n - slope * (sqd / n), 6).alias("intercept"),
        F.round((num * num) / (denx * deny), 6).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "sql_group_by_all",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY ALL ORDER BY ALL
    """,
    description="Modern SQL dialect: GROUP BY ALL / ORDER BY ALL "
    "(grouping keys inferred from the non-aggregate select list) — "
    "supported natively by both Spark 4 and DuckDB; the engine passes "
    "the text straight through spark.sql. Beyond-SQLite surface a "
    "reference user migrating queries gets for free.",
    tags=("sql", "aggregate"),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.catalog import register_views

    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        "SELECT source, lang, COUNT(*) AS n_docs, "
        "SUM(n_chars) AS total_chars "
        "FROM documents GROUP BY ALL ORDER BY ALL"
    )


@query(
    "window_count_distinct",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey)
               AS n_supp,
           COUNT(DISTINCT l_returnflag) OVER (PARTITION BY l_orderkey)
               AS n_flags
    FROM lineitem
    WHERE l_orderkey <= 2000
    ORDER BY l_orderkey, l_linenumber
    """,
    description="COUNT(DISTINCT) OVER a partition — Spark rejects "
    "DISTINCT window aggregates, so it is emulated exactly as "
    "dense_rank over (partition ORDER BY value) followed by MAX over "
    "the bare partition: both windows share one exchange keyed by "
    "l_orderkey (one shuffle, per-partition sorts only — never a "
    "global sort). NULL values are excluded from the count like the "
    "SQL semantics (none in these columns). Oracle is DuckDB's native "
    "DISTINCT window aggregate.",
    tags=("window", "distinct"),
)
def window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag")
    )
    part = Window.partitionBy("l_orderkey")

    def count_distinct_over(col: str) -> F.Column:
        rk = F.dense_rank().over(part.orderBy(col))
        return F.max(rk).over(part)

    return (
        li.select(
            "l_orderkey", "l_linenumber",
            count_distinct_over("l_suppkey").alias("n_supp"),
            count_distinct_over("l_returnflag").alias("n_flags"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def _ab_lift_oracle() -> str:
    from litebase_spark.functions.portable import h60_duck

    h = h60_duck("CAST(user_id AS VARCHAR)")
    return f"""
    WITH assigned AS (
        SELECT user_id, {h} % 2 AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, COUNT(*) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM assigned GROUP BY arm
    ),
    wide AS (
        SELECT
          MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
          MAX(CASE WHEN arm = 0 THEN n_converted END) AS c0,
          MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
          MAX(CASE WHEN arm = 1 THEN n_converted END) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           (c0 * 1000000) // n0 AS rate0_e6,
           (c1 * 1000000) // n1 AS rate1_e6,
           (c1 * 1000000) // n1 - (c0 * 1000000) // n0 AS lift_e6,
           ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
    FROM wide
    """


@query(
    "stats_ab_lift",
    oracle=_ab_lift_oracle(),
    description="A/B experiment lift + two-proportion z-test over the "
    "event stream: users assign to arms by the portable hash (the same "
    "deterministic no-rand() bucketing a real experiment platform uses "
    "— stable across runs/engines/partitionings), conversion = any "
    "'purchase' event. Per-arm user/converter counts reduce with "
    "map-side combine (the user-grain agg is the only real exchange); "
    "rates and lift stay in integer e-6 fixed point, and the z "
    "statistic is ONE double expression over four exact integers — "
    "bit-identical cross-engine, so even the test statistic is "
    "hash-checked. 100 TB: two aggregates and a 2-row pivot; nothing "
    "scales with event count but the first combine.",
    tags=("stats", "agg", "experiment"),
)
def stats_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.functions.portable import h60_spark

    e = load(spark, sf_dir, "events")
    assigned = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            (F.expr(h60_spark("CAST(user_id AS STRING)")) % 2).alias("arm"),
            "converted",
        )
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
    )
    pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0")
    ) / F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.expr("(c0 * 1000000) DIV n0").alias("rate0_e6"),
        F.expr("(c1 * 1000000) DIV n1").alias("rate1_e6"),
        F.expr("(c1 * 1000000) DIV n1 - (c0 * 1000000) DIV n0")
        .alias("lift_e6"),
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Chi-squared independence (categorical association)
# ---------------------------------------------------------------------------


@query(
    "stats_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, o,
             SUM(o) OVER (PARTITION BY lang) AS rt,
             SUM(o) OVER (PARTITION BY source) AS ct,
             SUM(o) OVER () AS n
      FROM cells
    )
    SELECT lang, source, o AS observed,
           ROUND(CAST(rt * ct AS DOUBLE) / n, 6) AS expected,
           ROUND(CAST(o * n - rt * ct AS DOUBLE)
                 * CAST(o * n - rt * ct AS DOUBLE)
                 / (CAST(rt * ct AS DOUBLE) * n), 6) AS contribution
    FROM m
    """,
    description="Chi-squared test of independence between two "
    "categorical columns (lang x source over the corpus) — the "
    "data-quality screen for 'is my language mix confounded with my "
    "source mix'. One distributed pass computes the contingency cells; "
    "the marginals come from windows OVER THE CELL TABLE (|langs| x "
    "|sources| rows, never the corpus — the unpartitioned window is a "
    "driver-sized table by construction), so the corpus is scanned "
    "once and shuffled once. Per-cell contribution uses the exact "
    "integer identity (o*N - rt*ct)^2 / (rt*ct*N): the numerator "
    "difference stays in int64 and only then widens to double, one "
    "identical op sequence in both engines.",
    tags=("stats",),
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    m = (
        cells.withColumn(
            "rt", F.sum("o").over(Window.partitionBy("lang"))
        )
        .withColumn("ct", F.sum("o").over(Window.partitionBy("source")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    diff = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast(
        "double"
    )
    rc = (F.col("rt") * F.col("ct")).cast("double")
    # o*n and rt*ct are int64 products bounded by N^2: loud guard past
    # N ~ 2.1e9 (evaluates per bounded contingency cell, not per row).
    guard = _n2_guard(F.col("n"), "stats_chi2_independence")
    return m.select(
        "lang",
        "source",
        F.when(guard.isNull(), F.col("o")).alias("observed"),
        F.round(rc / F.col("n"), 6).alias("expected"),
        F.round(diff * diff / (rc * F.col("n")), 6).alias("contribution"),
    )


@query(
    "stats_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT o,
             SUM(o) OVER (PARTITION BY lang) AS rt,
             SUM(o) OVER (PARTITION BY source) AS ct,
             SUM(o) OVER () AS n,
             DENSE_RANK() OVER (ORDER BY lang) AS r,
             DENSE_RANK() OVER (ORDER BY source) AS c
      FROM cells
    ),
    contrib AS (
      SELECT n, r, c,
             CAST(ROUND(CAST(o * n AS DOUBLE) * o
                        / CAST(rt * ct AS DOUBLE), 6)
                  AS DECIMAL(38,6)) AS cd
      FROM m
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(MAX(r) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS n_cols,
           ROUND(CAST(SUM(cd) AS DOUBLE) - MAX(n), 6) AS chi2,
           ROUND(SQRT((CAST(SUM(cd) AS DOUBLE) - MAX(n))
                 / (MAX(n) * LEAST(MAX(r) - 1, MAX(c) - 1))), 6)
             AS cramers_v
    FROM contrib
    """,
    description="Cramer's V effect size for the lang x source "
    "association — the number that tells a pipeline operator whether "
    "a significant chi2 (stats_chi2_independence, whose cell "
    "machinery this extends) is a real confound or a large-n "
    "artifact. Uses the identity chi2 = sum(O^2/E) - n, whose terms "
    "are zero for EMPTY contingency cells — so the total is exact "
    "over the observed-cells-only table a groupBy produces (the "
    "(O-E)^2/E form would silently drop absent cells' mass). "
    "Exactness contract: each term is one double multiply+divide on "
    "exact integer inputs (deterministic IEEE, identical in both "
    "engines, rounded to 6 places), the cross-cell total is summed "
    "in DECIMAL(38,6) so float summation ORDER cannot differ, and "
    "the final V = sqrt(chi2 / (n * min(r-1, c-1))) uses only "
    "correctly-rounded IEEE ops (divide, sqrt) on identical inputs. "
    "All windows and the dense-rank dimension counts run over the "
    "bounded |langs| x |sources| cell table, never the corpus — one "
    "corpus scan, one shuffle.",
    tags=("stats",),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    w_all = Window.partitionBy()
    m = (
        cells.withColumn("rt", F.sum("o").over(Window.partitionBy("lang")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("source")))
        .withColumn("n", F.sum("o").over(w_all))
        .withColumn("r", F.dense_rank().over(Window.orderBy("lang")))
        .withColumn("c", F.dense_rank().over(Window.orderBy("source")))
    )
    contrib = m.select(
        "n",
        "r",
        "c",
        F.round(
            (F.col("o") * F.col("n")).cast("double")
            * F.col("o")
            / (F.col("rt") * F.col("ct")).cast("double"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("cd"),
    )
    chi2 = F.sum("cd").cast("double") - F.max("n")
    # o*n and rt*ct are int64 products bounded by N^2: loud guard past
    # N ~ 2.1e9 (same policy as chi2/the rank ops).
    guard = _n2_guard(F.max("n"), "stats_cramers_v")
    return contrib.agg(
        F.when(guard.isNull(), F.max("n")).cast("long").alias("n_total"),
        F.max("r").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("n_cols"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.max("n")
                    * F.least(F.max("r") - 1, F.max("c") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "stats_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    agg AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2,
             CAST(SUM(a * c) AS BIGINT) AS s1,
             CAST(SUM(b * c) AS BIGINT) AS s2,
             SUM(CAST(a * c AS HUGEINT) * c) AS ss1,
             SUM(CAST(b * c AS HUGEINT) * c) AS ss2
      FROM s
    ),
    t AS (
      SELECT n1, n2,
             CAST(CAST(s1 AS HUGEINT) * n2
                  - CAST(s2 AS HUGEINT) * n1 AS DOUBLE)
               / n1 / n2 / 100.0 AS md,
             CAST(n1 * ss1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
               / n1 / (n1 - 1) / n1 / 10000.0 AS vn1,
             CAST(n2 * ss2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
               / n2 / (n2 - 1) / n2 / 10000.0 AS vn2
      FROM agg
    )
    SELECT n1, n2, ROUND(md, 6) AS mean_diff,
           ROUND(md / SQRT(vn1 + vn2), 6) AS t_stat,
           ROUND((vn1 + vn2) * (vn1 + vn2)
                 / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1)), 6)
             AS df_welch
    FROM t
    """,
    description="Welch's unequal-variance t-test between the value "
    "distributions of two event types — the mean-shift companion to "
    "stats_ks_test (shape drift) and stats_mann_whitney_u (rank "
    "drift). ONE scan, one partial+final aggregate, no shuffle "
    "beyond the 6-cell reduce: per-group n, sum, and sum-of-squares "
    "are exact integers (sum-of-squares in 128-bit — "
    "DECIMAL(38,0)/HUGEINT — since n*ss overflows int64 at replica "
    "scale), and every downstream double op (the variance/mean "
    "identities n*ss - s^2 and s1*n2 - s2*n1, the divisions, sqrt, "
    "the Welch-Satterthwaite df) is the SAME correctly-rounded IEEE "
    "sequence in both engines, so t and df agree to the printed 6 "
    "places bit-for-bit. Headroom: the int64 arm sums s1/s2 are exact "
    "while n*max|c| < 2^62 (~4.6e14 rows at 1e4-cent values); a "
    "runtime assert_true guard fails LOUDLY past the bound instead of "
    "wrapping silently.",
    tags=("stats",),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = e.select(
        fp("value").alias("c"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("b"),
    )
    dec = "decimal(38,0)"
    agg = s.agg(
        F.max(F.abs(F.col("c"))).alias("mx"),
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("c")).cast("long").alias("s1"),
        F.sum(F.col("b") * F.col("c")).cast("long").alias("s2"),
        F.sum((F.col("a") * F.col("c")).cast(dec) * F.col("c")).alias(
            "ss1"
        ),
        F.sum((F.col("b") * F.col("c")).cast(dec) * F.col("c")).alias(
            "ss2"
        ),
    )
    md = (
        (
            F.col("s1").cast(dec) * F.col("n2")
            - F.col("s2").cast(dec) * F.col("n1")
        ).cast("double")
        / F.col("n1")
        / F.col("n2")
        / 100.0
    )
    vn1 = (
        (F.col("n1") * F.col("ss1") - F.col("s1").cast(dec) * F.col("s1"))
        .cast("double")
        / F.col("n1")
        / (F.col("n1") - 1)
        / F.col("n1")
        / 10000.0
    )
    vn2 = (
        (F.col("n2") * F.col("ss2") - F.col("s2").cast(dec) * F.col("s2"))
        .cast("double")
        / F.col("n2")
        / (F.col("n2") - 1)
        / F.col("n2")
        / 10000.0
    )
    # int64 headroom guard (round-8 verdict task 6): s1/s2 = sum(c) per
    # arm are int64 — exact while n * max|c| < 2^62; past that the sum
    # wraps silently (the sums of squares are already DECIMAL(38,0)).
    # assert_true is NULL on pass and raises loudly on violation; woven
    # into n1 so pruning cannot drop it from the 1-row final stage.
    guard = F.assert_true(
        (F.col("n1") + F.col("n2")).cast(dec) * F.col("mx").cast(dec)
        < F.lit(2**62).cast(dec),
        F.lit(
            "stats_welch_ttest int64 sum headroom exceeded: "
            "n*max|c| >= 2^62 — widen s1/s2 to DECIMAL(38,0)"
        ),
    )
    t = agg.select(
        F.when(guard.isNull(), F.col("n1")).alias("n1"),
        "n2",
        md.alias("md"),
        vn1.alias("vn1"),
        vn2.alias("vn2"),
    )
    se2 = F.col("vn1") + F.col("vn2")
    return t.select(
        "n1",
        "n2",
        F.round(F.col("md"), 6).alias("mean_diff"),
        F.round(F.col("md") / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2
            * se2
            / (
                F.col("vn1") * F.col("vn1") / (F.col("n1") - 1)
                + F.col("vn2") * F.col("vn2") / (F.col("n2") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov (distribution drift)
# ---------------------------------------------------------------------------


@query(
    "stats_ks_test",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    cells AS (
      SELECT cents, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY cents
    ),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY cents) AS cuma,
             SUM(cb) OVER (ORDER BY cents) AS cumb,
             SUM(ca) OVER () AS n1, SUM(cb) OVER () AS n2
      FROM cells
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
           ROUND(CAST(MAX(ABS(cuma * n2 - cumb * n1)) AS DOUBLE)
                 / (MAX(n1) * MAX(n2)), 6) AS d_stat
    FROM cum
    """,
    description="Two-sample Kolmogorov-Smirnov statistic between the "
    "value distributions of two event types — the drift gate a "
    "production pipeline runs between yesterday's and today's feed. "
    "D = max_x |ECDF_a(x) - ECDF_b(x)| computed EXACTLY in integers: "
    "group to per-distinct-value counts (one corpus-wide shuffle of "
    "(cents, 1) pairs with map-side combine), running sums over the "
    "value grid, and |cum_a*n2 - cum_b*n1| maximized before a single "
    "final division. The unpartitioned window runs over the DISTINCT "
    "VALUE table, whose size is bounded by the fixed-point domain "
    "(<= 20k cells for a 2-decimal metric), not by row count — the "
    "same cells-not-corpus shape as stats_chi2_independence.",
    tags=("stats", "window"),
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = e.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("b"),
    )
    cells = s.groupBy("cents").agg(
        F.sum("a").alias("ca"), F.sum("b").alias("cb")
    )
    wg = Window.orderBy("cents")
    wa = Window.partitionBy()
    cum = cells.select(
        F.sum("ca").over(wg).alias("cuma"),
        F.sum("cb").over(wg).alias("cumb"),
        F.sum("ca").over(wa).alias("n1"),
        F.sum("cb").over(wa).alias("n2"),
    )
    # cuma*n2 / cumb*n1 are int64 cross products bounded by n1*n2 <
    # N(N+1): loud guard past N ~ 2.1e9 (same policy as the rank ops).
    guard = _n2_guard(F.max("n1") + F.max("n2"), "stats_ks_test")
    return cum.agg(
        F.when(guard.isNull(), F.max("n1")).cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
        F.round(
            F.max(F.abs(F.col("cuma") * F.col("n2")
                        - F.col("cumb") * F.col("n1"))).cast("double")
            / (F.max("n1") * F.max("n2")),
            6,
        ).alias("d_stat"),
    )


@query(
    "stats_mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    cells AS (
      SELECT cents, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY cents
    ),
    r AS (
      SELECT ca, cb, ca + cb AS t,
             COALESCE(SUM(ca + cb) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum0,
             SUM(ca) OVER () AS n1, SUM(cb) OVER () AS n2
      FROM cells
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
           CAST(SUM(ca * (2 * cum0 + t + 1)) - MAX(n1) * (MAX(n1) + 1)
                AS BIGINT) AS u2_a,
           ROUND(
             CAST(SUM(ca * (2 * cum0 + t + 1))
                  - MAX(n1) * (MAX(n1) + 1)
                  - MAX(n1) * MAX(n2) AS DOUBLE)
             / (2.0 * SQRT(
                 (CAST(MAX(n1) AS DOUBLE) * MAX(n2) / 12.0)
                 * ((MAX(n1) + MAX(n2) + 1)
                    - CAST(SUM(t * t * t - t) AS DOUBLE)
                      / ((MAX(n1) + MAX(n2))
                         * (MAX(n1) + MAX(n2) - 1.0))))),
             6) AS z_score
    FROM r
    """,
    description="Two-sample Mann-Whitney U (Wilcoxon rank-sum) between "
    "the value distributions of two event types — the rank-based drift "
    "gate that catches median/stochastic-dominance shifts KS's max-gap "
    "can blur and that, unlike Welch, needs no normality. Computed "
    "EXACTLY in integers over the CELL table: per-distinct-value "
    "counts (one corpus shuffle with map-side combine), doubled "
    "midranks 2r = 2*cum_before + ties + 1 from a running sum over "
    "the value grid, 2U_A = sum(ca * 2r) - n1(n1+1) as BIGINT "
    "(bounded by N(N+1); loud assert_true headroom guard past "
    "N ~ 2.1e9, ties = sum(t^3 - t) in DECIMAL(38,0) so mega-ties "
    "cannot wrap), and the tie-corrected normal z only at the single "
    "final double division. The unpartitioned window runs over the "
    "bounded distinct-value cells, never the corpus — the chi2/KS "
    "cells-not-corpus shape.",
    tags=("stats", "window"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = e.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("b"),
    )
    cells = s.groupBy("cents").agg(
        F.sum("a").alias("ca"), F.sum("b").alias("cb")
    )
    wg = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    wa = Window.partitionBy()
    t = F.col("ca") + F.col("cb")
    r = cells.select(
        "ca",
        "cb",
        t.alias("t"),
        F.coalesce(F.sum(t).over(wg), F.lit(0)).alias("cum0"),
        F.sum("ca").over(wa).alias("n1"),
        F.sum("cb").over(wa).alias("n2"),
    )
    n1 = F.max("n1")
    n2 = F.max("n2")
    two_r = F.sum(F.col("ca") * (2 * F.col("cum0") + F.col("t") + 1))
    u2a = two_r - n1 * (n1 + 1)
    nn = n1 + n2
    # ties in DECIMAL(38,0): a >=2.1M-way tie would wrap t^3 in int64;
    # the product runs over the bounded cells table, so exact is free.
    ties = F.sum(
        F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
        - F.col("t")
    )
    # 2U_A/2R are int64 bounded by N(N+1): loud guard past N ~ 2.1e9.
    guard = _n2_guard(nn, "stats_mann_whitney_u")
    z = F.round(
        (u2a - n1 * n2).cast("double")
        / (
            F.lit(2.0)
            * F.sqrt(
                (n1.cast("double") * n2 / F.lit(12.0))
                * (
                    (nn + 1)
                    - ties.cast("double") / (nn * (nn - F.lit(1.0)))
                )
            )
        ),
        6,
    )
    return r.agg(
        F.when(guard.isNull(), n1).cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        u2a.cast("long").alias("u2_a"),
        z.alias("z_score"),
    )


@query(
    "stats_levene_test",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS arm,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    a AS (
      SELECT arm, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sv,
             SUM(CAST(c AS HUGEINT) * c) AS q
      FROM s GROUP BY arm
    ),
    f AS (
      SELECT s.arm,
             SUM(CASE WHEN CAST(s.c AS HUGEINT) * a.n >= a.sv
                      THEN 1 ELSE 0 END) AS np,
             CAST(SUM(CASE WHEN CAST(s.c AS HUGEINT) * a.n >= a.sv
                           THEN s.c ELSE 0 END) AS BIGINT) AS cp
      FROM s JOIN a ON s.arm = a.arm GROUP BY s.arm
    ),
    d AS (
      SELECT a.arm, a.n,
             CAST(CAST(a.n AS HUGEINT) * (2 * f.cp - a.sv)
                  + (a.n - 2 * f.np) * CAST(a.sv AS HUGEINT)
                  AS DOUBLE) / a.n / a.n AS zbar,
             CAST(CAST(a.n AS HUGEINT) * a.q
                  - CAST(a.sv AS HUGEINT) * a.sv AS DOUBLE) / a.n
               AS sz2
      FROM a JOIN f ON a.arm = f.arm
    ),
    p AS (
      SELECT MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 2 THEN n END) AS n2,
             MAX(CASE WHEN arm = 1 THEN zbar END) AS z1,
             MAX(CASE WHEN arm = 2 THEN zbar END) AS z2,
             MAX(CASE WHEN arm = 1 THEN sz2 - n * (zbar * zbar) END)
               AS ssw1,
             MAX(CASE WHEN arm = 2 THEN sz2 - n * (zbar * zbar) END)
               AS ssw2
      FROM d
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(z1 / 100.0, 6) AS mad_1,
           ROUND(z2 / 100.0, 6) AS mad_2,
           ROUND((n1 + n2 - 2)
                 * (n1 * ((z1 - (n1 * z1 + n2 * z2) / (n1 + n2))
                          * (z1 - (n1 * z1 + n2 * z2) / (n1 + n2)))
                    + n2 * ((z2 - (n1 * z1 + n2 * z2) / (n1 + n2))
                            * (z2 - (n1 * z1 + n2 * z2) / (n1 + n2))))
                 / (ssw1 + ssw2), 6) AS w_stat
    FROM p
    """,
    description="Levene's test (mean-centered) for variance homogeneity "
    "between two event types — the spread-drift gate completing the "
    "two-sample family: Welch (mean shift), KS (shape), Mann-Whitney "
    "(rank), Levene (variance). The absolute deviations never "
    "materialize per row: sum|c - mean| folds to integer aggregates "
    "via the sign-split identity sum|n*c - S| = n*(2*C+ - S) + "
    "(n - 2*n+)*S, where C+/n+ are the conditional sums over rows "
    "with n*c >= S — so pass 1 is (n, S, Q=sum(c^2)) and pass 2 is "
    "two conditional int64 sums against the broadcast 2-row arm "
    "table, and sum(z^2) = (nQ - S^2)/n^2 per the raw-moment "
    "identity (no abs needed for squares). 128-bit only at the 2-row "
    "final stage; the W statistic's double sequence is written "
    "identically in both engines. Headroom: guarded like welch/acf "
    "(n*max(c)^2 < 2^62).",
    tags=("stats",),
)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = e.select(
        F.when(F.col("event_type") == "click", 1).otherwise(2).alias("arm"),
        fp("value").alias("c"),
    )
    dec38 = "decimal(38,0)"
    # cells-not-corpus (r13, the kruskal/spearman convention): both the
    # moment aggregate and the above-mean pass fold the bounded
    # (arm, cents) cell table instead of each re-scanning the corpus —
    # sum-over-rows == sum(cell * weight) exactly (integer/decimal
    # arithmetic, no reordering of float adds), and the second pass's
    # corpus-wide broadcast join becomes a cell-table fold
    cells = s.groupBy("arm", "c").agg(
        F.count(F.lit(1)).alias("w")
    ).localCheckpoint(eager=True)
    a = cells.groupBy("arm").agg(
        F.sum("w").alias("n"),
        F.sum(F.col("c") * F.col("w")).alias("sv"),
        F.sum(
            F.col("c").cast(dec38) * F.col("c") * F.col("w")
        ).alias("q"),
        F.max(F.abs(F.col("c"))).alias("mx"),
    )
    f = (
        cells.join(F.broadcast(a.select("arm", "n", "sv")), "arm")
        .groupBy("arm")
        .agg(
            F.sum(
                F.when(
                    F.col("c").cast(dec38) * F.col("n") >= F.col("sv"),
                    F.col("w"),
                ).otherwise(0)
            ).alias("np"),
            F.sum(
                F.when(
                    F.col("c").cast(dec38) * F.col("n") >= F.col("sv"),
                    F.col("c") * F.col("w"),
                ).otherwise(0)
            ).alias("cp"),
        )
    )
    nd = F.col("n").cast(dec38)
    svd = F.col("sv").cast(dec38)
    guard = F.assert_true(
        nd * F.col("mx").cast(dec38) * F.col("mx").cast(dec38)
        < F.lit(2**62).cast(dec38),
        F.lit(
            "stats_levene_test int64 moment headroom exceeded: "
            "n*max(c)^2 >= 2^62"
        ),
    )
    d = a.join(f, "arm").select(
        "arm",
        F.when(guard.isNull(), F.col("n")).alias("n"),
        (
            (
                nd * (F.lit(2).cast(dec38) * F.col("cp").cast(dec38) - svd)
                + (nd - F.lit(2).cast(dec38) * F.col("np").cast(dec38))
                * svd
            ).cast("double")
            / F.col("n")
            / F.col("n")
        ).alias("zbar"),
        (
            (nd * F.col("q") - svd * svd).cast("double") / F.col("n")
        ).alias("sz2"),
    )
    p = d.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == 1, F.col("zbar"))).alias("z1"),
        F.max(F.when(F.col("arm") == 2, F.col("zbar"))).alias("z2"),
        F.max(
            F.when(
                F.col("arm") == 1,
                F.col("sz2") - F.col("n") * (F.col("zbar") * F.col("zbar")),
            )
        ).alias("ssw1"),
        F.max(
            F.when(
                F.col("arm") == 2,
                F.col("sz2") - F.col("n") * (F.col("zbar") * F.col("zbar")),
            )
        ).alias("ssw2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    z1, z2 = F.col("z1"), F.col("z2")
    zg = (n1 * z1 + n2 * z2) / (n1 + n2)
    return p.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(z1 / 100.0, 6).alias("mad_1"),
        F.round(z2 / 100.0, 6).alias("mad_2"),
        F.round(
            (n1 + n2 - 2)
            * (
                n1 * ((z1 - zg) * (z1 - zg))
                + n2 * ((z2 - zg) * (z2 - zg))
            )
            / (F.col("ssw1") + F.col("ssw2")),
            6,
        ).alias("w_stat"),
    )


@query(
    "stats_spearman_rho",
    oracle="""
    WITH l AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS c
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    xc AS (SELECT qty, COUNT(*) AS t FROM l GROUP BY qty),
    xr AS (
      SELECT qty, 2 * COALESCE(SUM(t) OVER (ORDER BY qty
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + t + 1 AS u
      FROM xc
    ),
    yc AS (SELECT c, COUNT(*) AS t FROM l GROUP BY c),
    yr AS (
      SELECT c, 2 * COALESCE(SUM(t) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + t + 1 AS v
      FROM yc
    ),
    j AS (SELECT u, v FROM l JOIN xr USING (qty) JOIN yr USING (c)),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
             SUM(CAST(u AS HUGEINT) * u) AS su2,
             SUM(CAST(v AS HUGEINT) * v) AS sv2,
             SUM(CAST(u AS HUGEINT) * v) AS suv
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n * suv - CAST(su AS HUGEINT) * sv AS DOUBLE)
                 / (SQRT(CAST(n * su2 - CAST(su AS HUGEINT) * su
                              AS DOUBLE))
                    * SQRT(CAST(n * sv2 - CAST(sv AS HUGEINT) * sv
                                AS DOUBLE))), 6) AS rho
    FROM s
    """,
    description="Spearman rank correlation (quantity vs extended price "
    "over lineitem) with exact tie handling: Pearson over DOUBLED "
    "midranks 2r = 2*cum_before + ties + 1, so every rank is an "
    "integer and every sum is exact until the single final "
    "divide/sqrt (identical IEEE sequence both engines). The rank "
    "assignment is the round-9 distributed-CDF machinery: quantity "
    "ranks come from a 50-cell bounded window (broadcast back); "
    "price ranks from value-bucketed cells — width-1000-dollar "
    "buckets, bucket-local prefix window, O(#buckets) offset table "
    "prefix broadcast back — so NO corpus-sized single-reducer "
    "window anywhere (the naive global rank() is the scale bug this "
    "plan kills; same shape as window_range_frame). ONE corpus "
    "exchange total (re-planned mid-round-9 off a 2.7 s sf1 row): "
    "the 50-row u map broadcasts onto rows map-side and the corpus "
    "collapses straight onto the distinct-cents cells carrying int64 "
    "partials (count, sum(u): total doubled-rank mass = n(n+1), "
    "~7e13 at sf1; int64-exact to n ~ 2.1e9 rows with a LOUD "
    "assert_true guard past that, never a silent wrap); every "
    "second moment then folds on a CELL table — x-moments on the 50 "
    "quantity cells, y/cross moments as sum(t*v^2) and sum(v*suc) "
    "over the cents cells (v is constant within a cell, so these are "
    "bit-identical to the per-row sums the oracle computes) — which "
    "keeps all DECIMAL(38,0) products off the corpus codegen path "
    "(the ts_acf_lags BigDecimal lesson) and deletes the old "
    "value-keyed rank join back to rows (a full second corpus "
    "shuffle plus 3 per-row decimal products; 2.69 -> ~0.9 s sf1).",
    tags=("stats", "window"),
)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete-case semantics (declared in the oracle too): filtering
    # the RAW columns lets IsNotNull reach the parquet scan; the rank
    # joins below key on DERIVED columns, whose inferred not-nulls
    # cannot push.
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_quantity").cast("long").alias("qty"),
            fp("l_extendedprice").alias("c"),
        )
    )
    dec38 = "decimal(38,0)"
    # x ranks: 50-cell bounded window (cells-not-corpus contract);
    # materialized ONCE (r13): the x-moment fold and the corpus
    # broadcast-join both consume the xc/xr chain, and each otherwise
    # re-inlines the corpus aggregate per execution
    xc = l.groupBy("qty").agg(
        F.count(F.lit(1)).alias("t")
    ).localCheckpoint(eager=True)
    wx = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, -1)
    xr = xc.select(
        "qty",
        "t",
        (
            2 * F.coalesce(F.sum("t").over(wx), F.lit(0))
            + F.col("t") + 1
        ).alias("u"),
    )
    # x-side moments fold on the 50-cell table (sum u over rows =
    # sum t*u over cells); decimal math touches 50 rows, never the
    # corpus
    xmom = xr.agg(
        F.sum("t").alias("n"),
        F.sum(F.col("t") * F.col("u")).alias("su"),
        F.sum(
            F.col("t").cast(dec38) * F.col("u") * F.col("u")
        ).alias("su2"),
    )
    # ONE corpus exchange: broadcast the 50-row u map onto rows
    # map-side, then collapse onto the distinct-cents cells carrying
    # int64 partial sums only (count + sum(u): total doubled-rank mass
    # is exactly n(n+1), ~7e13 at sf1 — exact while n(n+1) < 2^62,
    # enforced by the loud _n2_guard at the final stage). The previous
    # plan re-shuffled
    # the corpus a second time to join v back per row and then summed
    # per-row DECIMAL products over the whole corpus — the interpreted
    # BigDecimal off-codegen path ts_acf_lags already taught us to
    # avoid; here every decimal product runs over cells.
    cells = (
        l.join(F.broadcast(xr.select("qty", "u")), "qty")
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("t"), F.sum("u").alias("suc"))
    )
    # y ranks: bucketed cells prefix (no corpus-sized global window)
    yb = cells.withColumn("b", F.floor(F.col("c") / F.lit(100000)))
    wyl = (
        Window.partitionBy("b")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = yb.select(
        "b", "c", "t", "suc",
        F.coalesce(F.sum("t").over(wyl), F.lit(0)).alias("lcum"),
    )
    btot = yb.groupBy("b").agg(F.sum("t").alias("bt"))
    wob = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "b", F.coalesce(F.sum("bt").over(wob), F.lit(0)).alias("boff")
    )
    yv = loc.join(F.broadcast(off), "b").select(
        "t", "suc",
        (
            2 * (F.col("boff") + F.col("lcum")) + F.col("t") + 1
        ).alias("v"),
    )
    # y-side + cross moments fold on the cells: sum(v) = sum t*v,
    # sum(v^2) = sum t*v^2, sum(u*v) = sum v*suc (v constant within a
    # cents cell) — bit-identical integers to the per-row sums
    ymom = yv.agg(
        F.sum(F.col("t") * F.col("v")).alias("sv"),
        F.sum(
            F.col("t").cast(dec38) * F.col("v") * F.col("v")
        ).alias("sv2"),
        F.sum(F.col("suc").cast(dec38) * F.col("v")).alias("suv"),
    )
    s = ymom.crossJoin(F.broadcast(xmom))
    nd = F.col("n").cast(dec38)
    sud = F.col("su").cast(dec38)
    svd = F.col("sv").cast(dec38)
    num = (nd * F.col("suv") - sud * svd).cast("double")
    dx = (nd * F.col("su2") - sud * sud).cast("double")
    dy = (nd * F.col("sv2") - svd * svd).cast("double")
    # int64 headroom (round-9 verdict task 1): su = sv = n(n+1) exactly
    # (doubled-midrank mass), and every per-cell partial suc <= n(n+1)
    # — silent wrap past n ~ 2.1e9 becomes a loud failure instead.
    guard = _n2_guard(F.col("n"), "stats_spearman_rho")
    return s.select(
        F.when(guard.isNull(), F.col("n")).cast("long").alias("n_rows"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("rho"),
    )


@query(
    "stats_kruskal_wallis",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g2,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g3
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ),
    cells AS (
      SELECT cents, SUM(g1) AS c1, SUM(g2) AS c2, SUM(g3) AS c3
      FROM s GROUP BY cents
    ),
    r AS (
      SELECT c1, c2, c3, c1 + c2 + c3 AS t,
             COALESCE(SUM(c1 + c2 + c3) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum0
      FROM cells
    ),
    a AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2, SUM(c3) AS n3,
             SUM(t) AS nn,
             SUM(c1 * (2 * cum0 + t + 1)) AS s1,
             SUM(c2 * (2 * cum0 + t + 1)) AS s2,
             SUM(c3 * (2 * cum0 + t + 1)) AS s3,
             SUM(t * t * t - t) AS ties
      FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(n3 AS BIGINT) AS n3,
           CAST(s1 AS BIGINT) AS two_r1,
           CAST(s2 AS BIGINT) AS two_r2,
           CAST(s3 AS BIGINT) AS two_r3,
           ROUND(
             (3.0 * (CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                       / CAST(n1 AS DOUBLE)
                     + CAST(CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                       / CAST(n2 AS DOUBLE)
                     + CAST(CAST(s3 AS HUGEINT) * s3 AS DOUBLE)
                       / CAST(n3 AS DOUBLE))
              / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
              - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
             / (1.0 - CAST(ties AS DOUBLE)
                      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                         * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))),
             6) AS h_stat
    FROM a
    """,
    description="Kruskal-Wallis H test across THREE event-type arms "
    "(click/view/purchase) — the k-group generalization of "
    "stats_mann_whitney_u for 'did any variant shift the value "
    "distribution', rank-based so it needs no normality. Same "
    "cells-not-corpus shape: one corpus shuffle onto the distinct-cents "
    "cell table (map-side combine), doubled midranks 2r = 2*cum_before "
    "+ ties + 1 from a running sum over the bounded value grid, "
    "per-arm doubled rank sums 2R_i = sum(c_i * 2r) as exact BIGINT "
    "bounded by N(N+1) — int64-exact to N ~ 2.1e9 rows with a LOUD "
    "assert_true headroom guard past that (never a silent wrap), and "
    "ties = sum(t^3 - t) in DECIMAL(38,0) over the bounded cells so a "
    ">=2.1M-way tie cannot wrap t^3 — and the tie-corrected "
    "H = [3/(N(N+1)) * sum((2R_i)^2/n_i) - 3(N+1)] / (1 - T/(N^3-N)) "
    "evaluated in fixed-order doubles ONLY on the single final row "
    "((2R_i)^2 in DECIMAL(38,0) <-> HUGEINT, which agree). The "
    "unpartitioned cells window never sees the corpus. Reference "
    "parity: net-new drift-gate surface (the reference ships no "
    "rank statistics).",
    tags=("stats", "window"),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    s = e.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("g2"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("g3"),
    )
    cells = s.groupBy("cents").agg(
        F.sum("g1").alias("c1"),
        F.sum("g2").alias("c2"),
        F.sum("g3").alias("c3"),
    )
    wg = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    t = F.col("c1") + F.col("c2") + F.col("c3")
    r = cells.select(
        "c1",
        "c2",
        "c3",
        t.alias("t"),
        F.coalesce(F.sum(t).over(wg), F.lit(0)).alias("cum0"),
    )
    dec38 = "decimal(38,0)"
    two_r = 2 * F.col("cum0") + F.col("t") + 1
    # ties = sum(t^3 - t) accumulates in DECIMAL(38,0): a single cell
    # with >= ~2.1e6 tied rows would silently wrap t^3 in int64, and
    # the product runs over the bounded cells table (off the corpus
    # path), so exactness is free here.
    a = r.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum("c3").alias("n3"),
        F.sum("t").alias("nn"),
        F.sum(F.col("c1") * two_r).alias("s1"),
        F.sum(F.col("c2") * two_r).alias("s2"),
        F.sum(F.col("c3") * two_r).alias("s3"),
        F.sum(
            F.col("t").cast(dec38) * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )

    def _sq_over_n(sc: str, nc: str):
        return (
            (F.col(sc).cast(dec38) * F.col(sc)).cast("double")
            / F.col(nc).cast("double")
        )

    nd = F.col("nn").cast("double")
    h = (
        F.lit(3.0)
        * (
            _sq_over_n("s1", "n1")
            + _sq_over_n("s2", "n2")
            + _sq_over_n("s3", "n3")
        )
        / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("ties").cast("double") / (
        nd * nd * nd - nd
    )
    # s_i = per-arm doubled rank sums are int64 bounded by N(N+1):
    # loud guard past N ~ 2.1e9 (same policy as welch/levene/acf).
    guard = _n2_guard(F.col("nn"), "stats_kruskal_wallis")
    return a.select(
        F.when(guard.isNull(), F.col("n1")).cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("n3").cast("long").alias("n3"),
        F.col("s1").cast("long").alias("two_r1"),
        F.col("s2").cast("long").alias("two_r2"),
        F.col("s3").cast("long").alias("two_r3"),
        F.round(h / corr, 6).alias("h_stat"),
    )


@query(
    "stats_kendall_tau",
    oracle="""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             YEAR(l_shipdate) * 12 + MONTH(l_shipdate) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_shipdate IS NOT NULL
    ),
    cells AS (SELECT x, y, COUNT(*) AS cn FROM base GROUP BY x, y),
    grid AS (
      SELECT xs.x, ys.y, COALESCE(c.cn, 0) AS cn
      FROM (SELECT DISTINCT x FROM cells) xs
      CROSS JOIN (SELECT DISTINCT y FROM cells) ys
      LEFT JOIN cells c ON c.x = xs.x AND c.y = ys.y
    ),
    g1 AS (
      SELECT x, y, cn,
        COALESCE(SUM(cn) OVER (PARTITION BY x ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS cy_lo,
        COALESCE(SUM(cn) OVER (PARTITION BY x ORDER BY y
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
          AS cy_hi
      FROM grid
    ),
    g2 AS (
      SELECT cn,
        COALESCE(SUM(cy_lo) OVER (PARTITION BY y ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
        COALESCE(SUM(cy_hi) OVER (PARTITION BY y ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS q
      FROM g1
    ),
    cd AS (
      SELECT SUM(CAST(cn AS HUGEINT) * p) AS c,
             SUM(CAST(cn AS HUGEINT) * q) AS d,
             SUM(cn) AS n
      FROM g2
    ),
    tx AS (SELECT SUM(CAST(nx AS HUGEINT) * (nx - 1)) AS t1
           FROM (SELECT SUM(cn) AS nx FROM grid GROUP BY x)),
    ty AS (SELECT SUM(CAST(ny AS HUGEINT) * (ny - 1)) AS t2
           FROM (SELECT SUM(cn) AS ny FROM grid GROUP BY y))
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           ROUND(2.0 * CAST(c - d AS DOUBLE)
                 / SQRT(CAST(CAST(n AS HUGEINT) * (n - 1) - t1
                             AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * (n - 1) - t2
                               AS DOUBLE)),
                 6) AS tau_b
    FROM cd, tx, ty
    """,
    description="Kendall tau-b rank correlation (quantity vs ship "
    "month over all of lineitem) WITHOUT forming a single pair: the "
    "O(n^2) concordant/discordant pair counts collapse onto the "
    "bounded ~50x84 (quantity, month) contingency grid — one corpus "
    "shuffle with map-side combine, densify the grid via a broadcast "
    "cross join of the two tiny axis tables (sparse cells would drop "
    "prefix mass), then TWO bounded-window prefix passes: per-x "
    "running sums over y give below/above counts, a per-y running sum "
    "over x turns those into strict southwest (concordant) and "
    "northwest (discordant) masses per cell. C = sum(n_xy * P_xy), "
    "D = sum(n_xy * Q_xy) as DECIMAL(38,0) <-> HUGEINT on the 4200 "
    "cells, tie terms from the axis marginals, and tau_b = "
    "2(C-D)/sqrt((2n0-2t1)(2n0-2t2)) using DOUBLED tie counts so no "
    "integer halving ever occurs; doubles only in the single final "
    "row. Scales with distinct cells, not rows — the pairs-from-cells "
    "analog of ts_acf_lags' decomposition. Reference parity: net-new "
    "(no rank statistics in the reference).",
    tags=("stats", "window"),
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete-case semantics (declared in the oracle too): raw-column
    # not-nulls push to the scan; the grid join keys are derived.
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.col("l_quantity").cast("long").alias("x"),
            (
                F.year("l_shipdate") * 12 + F.month("l_shipdate")
            ).alias("y"),
        )
    )
    # bounded cell table (|qty values| x |months|) materialized ONCE
    # (r13): xs, ys, the grid fill, and both tie marginals consume it,
    # and each consumer otherwise re-inlined the full corpus aggregate
    # (9 parquet scans per execution in the before plan)
    cells = (
        l.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
        .localCheckpoint(eager=True)
    )
    xs = cells.select("x").distinct()
    ys = cells.select("y").distinct()
    grid = (
        xs.crossJoin(F.broadcast(ys))
        .join(F.broadcast(cells), ["x", "y"], "left")
        .select(
            "x", "y", F.coalesce(F.col("cn"), F.lit(0)).alias("cn")
        )
    )
    w_lo_y = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_hi_y = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    g1 = grid.select(
        "x",
        "y",
        "cn",
        F.coalesce(F.sum("cn").over(w_lo_y), F.lit(0)).alias("cy_lo"),
        F.coalesce(F.sum("cn").over(w_hi_y), F.lit(0)).alias("cy_hi"),
    )
    w_lo_x = (
        Window.partitionBy("y")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g1.select(
        "cn",
        F.coalesce(F.sum("cy_lo").over(w_lo_x), F.lit(0)).alias("p"),
        F.coalesce(F.sum("cy_hi").over(w_lo_x), F.lit(0)).alias("q"),
    )
    dec38 = "decimal(38,0)"
    cd = g2.agg(
        F.sum(F.col("cn").cast(dec38) * F.col("p")).alias("c"),
        F.sum(F.col("cn").cast(dec38) * F.col("q")).alias("d"),
        F.sum("cn").alias("n"),
    )
    # tie marginals from CELLS, not the zero-filled grid: the grid's
    # zero rows contribute nothing to sum(cn) per x / per y, so the
    # marginals are identical — and the grid subtree (cross join +
    # fill) drops out of both branches
    tx = (
        cells.groupBy("x")
        .agg(F.sum("cn").alias("nx"))
        .agg(
            F.sum(
                F.col("nx").cast(dec38) * (F.col("nx") - 1)
            ).alias("t1")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("cn").alias("ny"))
        .agg(
            F.sum(
                F.col("ny").cast(dec38) * (F.col("ny") - 1)
            ).alias("t2")
        )
    )
    j = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    two_n0 = F.col("n").cast(dec38) * (F.col("n") - 1)
    tau = F.round(
        F.lit(2.0)
        * (F.col("c") - F.col("d")).cast("double")
        / F.sqrt(
            (two_n0 - F.col("t1")).cast("double")
            * (two_n0 - F.col("t2")).cast("double")
        ),
        6,
    )
    return j.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        tau.alias("tau_b"),
    )


# Shared by stats_psi and its streaming twin stream_drift_psi: the
# AvailableNow replay converges the streaming per-bin counts to the
# batch cells, so the SAME oracle certifies both paths.
PSI_ORACLE = """
    WITH s AS (
      SELECT FLOOR(CAST(ROUND(value * 100, 0) AS BIGINT) / 500.0)
               AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS refw
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT bin, SUM(refw) AS c1, SUM(1 - refw) AS c2
      FROM s GROUP BY bin
    ),
    t AS (
      SELECT bin, c1, c2,
             SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      FROM cells
    ),
    contrib AS (
      SELECT n1, n2,
             CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END AS used,
             CASE WHEN c1 > 0 AND c2 > 0 THEN
               CAST(ROUND(
                 (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                 * LN((CAST(c1 AS DOUBLE) / n1)
                      / (CAST(c2 AS DOUBLE) / n2)), 9)
                 AS DECIMAL(38,9))
             ELSE CAST(0 AS DECIMAL(38,9)) END AS cd
      FROM t
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n_ref,
           CAST(MAX(n2) AS BIGINT) AS n_cur,
           CAST(SUM(used) AS BIGINT) AS n_bins_used,
           CAST(COUNT(*) - SUM(used) AS BIGINT) AS n_bins_dropped,
           ROUND(CAST(SUM(cd) AS DOUBLE), 6) AS psi
    FROM contrib
    """


def psi_from_cells(cells: DataFrame) -> DataFrame:
    """PSI final reduction over a (bin, c1, c2) cell table — shared by
    the batch stats_psi and the streaming stream_drift_psi so the two
    paths cannot drift numerically."""
    w_all = Window.partitionBy()
    t = cells.select(
        "c1",
        "c2",
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    both = (F.col("c1") > 0) & (F.col("c2") > 0)
    contrib = t.select(
        "n1",
        "n2",
        F.when(both, 1).otherwise(0).alias("used"),
        F.when(both, F.round((p - q) * F.log(p / q), 9))
        .otherwise(F.lit(0.0))
        .cast("decimal(38,9)")
        .alias("cd"),
    )
    return contrib.agg(
        F.max("n1").cast("long").alias("n_ref"),
        F.max("n2").cast("long").alias("n_cur"),
        F.sum("used").cast("long").alias("n_bins_used"),
        (F.count(F.lit(1)) - F.sum("used"))
        .cast("long")
        .alias("n_bins_dropped"),
        F.round(F.sum("cd").cast("double"), 6).alias("psi"),
    )


def psi_binned(df: DataFrame) -> DataFrame:
    """Project events rows onto the PSI (bin, refw) shape — shared by
    both PSI paths (and reused by the streaming twin on a raw stream)."""
    return df.filter(F.col("value").isNotNull()).select(
        F.floor(fp("value") / F.lit(500.0)).alias("bin"),
        F.when(
            F.col("ts") < F.to_timestamp(F.lit("2024-01-16")), 1
        ).otherwise(0).alias("refw"),
    )


@query(
    "stats_psi",
    oracle=PSI_ORACLE,
    description="Population stability index between the first and "
    "second half of the event stream's value distribution — the "
    "binned-ratio drift gate ops teams actually alert on (psi < 0.1 "
    "stable, 0.1-0.25 moderate, > 0.25 shifted), completing the drift "
    "family: chi2/KS/MWU/kruskal test location/shape significance, "
    "PSI measures banded magnitude. One corpus scan folds rows onto "
    "the bounded $5-wide value-bin cell table (conditional int64 "
    "counts, map-side combine); totals ride an unpartitioned window "
    "over the ~100 cells, never the corpus. Per-bin contribution "
    "(p - q) * ln(p/q) is computed with the IDENTICAL IEEE sequence "
    "in both engines (correctly-rounded divides; ln's possible 1-ulp "
    "skew is absorbed by per-bin ROUND(..,9)), accumulated in "
    "DECIMAL(38,9) so cross-cell float summation ORDER cannot differ "
    "(the cramers_v lesson), final round 6. Bins empty on either "
    "side are excluded from the sum (the standard finite-PSI "
    "convention) and reported in n_bins_dropped so a silent "
    "support-mismatch cannot hide. Reference parity: net-new "
    "drift-gate surface (the reference ships no distribution "
    "statistics).",
    tags=("stats", "window"),
)
def stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cells = psi_binned(e).groupBy("bin").agg(
        F.sum("refw").alias("c1"),
        F.sum(F.lit(1) - F.col("refw")).alias("c2"),
    )
    return psi_from_cells(cells)


# ---------------------------------------------------------------------------
# Round 10: divergence / goodness-of-fit drift gates
# ---------------------------------------------------------------------------


@query(
    "stats_js_divergence",
    oracle="""
    WITH s AS (
      SELECT FLOOR(CAST(ROUND(value * 100, 0) AS BIGINT) / 500.0)
               AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS refw
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT bin, SUM(refw) AS c1, SUM(1 - refw) AS c2
      FROM s GROUP BY bin
    ),
    t AS (
      SELECT bin, c1, c2,
             SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      FROM cells
    ),
    contrib AS (
      SELECT n1, n2,
             CAST(ROUND(
               CASE WHEN c1 > 0 THEN
                 0.5 * (CAST(c1 AS DOUBLE) / n1)
                 * LN((CAST(c1 AS DOUBLE) / n1)
                      / ((CAST(c1 AS DOUBLE) / n1
                          + CAST(c2 AS DOUBLE) / n2) * 0.5))
               ELSE 0 END
               + CASE WHEN c2 > 0 THEN
                 0.5 * (CAST(c2 AS DOUBLE) / n2)
                 * LN((CAST(c2 AS DOUBLE) / n2)
                      / ((CAST(c1 AS DOUBLE) / n1
                          + CAST(c2 AS DOUBLE) / n2) * 0.5))
               ELSE 0 END, 9) AS DECIMAL(38,9)) AS cd
      FROM t
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n_ref,
           CAST(MAX(n2) AS BIGINT) AS n_cur,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(CAST(SUM(cd) AS DOUBLE), 6) AS jsd_nats,
           ROUND(CAST(SUM(cd) AS DOUBLE) / LN(2), 6) AS jsd_bits
    FROM contrib
    """,
    description="Jensen-Shannon divergence between the first and second "
    "half of the event stream's value distribution over the same $5 "
    "bins as stats_psi — the bounded drift gate (0 <= JSD <= ln 2) "
    "that, unlike PSI/KL, stays FINITE on support mismatch: a bin "
    "empty on one side contributes p/2 * ln 2 through the mixture "
    "m = (p+q)/2 instead of being dropped, so one-sided mass is "
    "measured, not discarded (stats_psi reports it via "
    "n_bins_dropped; this op prices it in). Same plan shape as PSI: "
    "one corpus scan folds rows onto the bounded $5-bin cell table "
    "(conditional int64 counts, map-side combine); totals ride an "
    "unpartitioned window over O(bins) cells, never the corpus. "
    "Per-bin 0.5*p*ln(p/m) + 0.5*q*ln(q/m) is the IDENTICAL IEEE "
    "sequence in both engines (correctly-rounded divides and "
    "multiplies; ln's possible 1-ulp skew absorbed by per-bin "
    "ROUND(..,9)), accumulated in DECIMAL(38,9) so cross-cell float "
    "summation order cannot differ, final round 6; jsd_bits divides "
    "the same rounded sum by the shared LN(2) constant. Reference "
    "parity: net-new drift-gate surface (the reference ships no "
    "distribution statistics).",
    tags=("stats", "window"),
)
def stats_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        F.floor(fp("value") / F.lit(500.0)).alias("bin"),
        F.when(
            F.col("ts") < F.to_timestamp(F.lit("2024-01-16")), 1
        ).otherwise(0).alias("refw"),
    )
    cells = s.groupBy("bin").agg(
        F.sum("refw").alias("c1"),
        F.sum(F.lit(1) - F.col("refw")).alias("c2"),
    )
    w_all = Window.partitionBy()
    t = cells.select(
        "c1",
        "c2",
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    m = (p + q) * F.lit(0.5)
    cd = (
        F.when(F.col("c1") > 0, F.lit(0.5) * p * F.log(p / m))
        .otherwise(F.lit(0))
        + F.when(F.col("c2") > 0, F.lit(0.5) * q * F.log(q / m))
        .otherwise(F.lit(0))
    )
    contrib = t.select(
        "n1",
        "n2",
        F.round(cd, 9).cast("decimal(38,9)").alias("cd"),
    )
    total = F.sum("cd").cast("double")
    return contrib.agg(
        F.max("n1").cast("long").alias("n_ref"),
        F.max("n2").cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(total, 6).alias("jsd_nats"),
        F.round(total / F.log(F.lit(2.0)), 6).alias("jsd_bits"),
    )


@query(
    "stats_wasserstein_1d",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS refw
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT c, SUM(refw) AS c1, SUM(1 - refw) AS c2
      FROM s GROUP BY c
    ),
    t AS (
      SELECT c,
             SUM(c1) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum1,
             SUM(c2) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum2,
             SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2,
             LEAD(c) OVER (ORDER BY c) AS cnext
      FROM cells
    ),
    contrib AS (
      SELECT n1, n2,
             ABS(CAST(cum1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
                 - CAST(cum2 AS DECIMAL(38,0))
                   * CAST(n1 AS DECIMAL(38,0)))
               * COALESCE(cnext - c, 0) AS w
      FROM t
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n_ref,
           CAST(MAX(n2) AS BIGINT) AS n_cur,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(w) AS DOUBLE) / MAX(n1) / MAX(n2) / 100.0, 6)
             AS w1_dollars
    FROM contrib
    """,
    description="1-Wasserstein (earth-mover) distance between the first "
    "and second half of the event stream's value distribution — the "
    "integral-of-|CDF difference| drift magnitude in the SAME UNITS "
    "as the data (dollars moved per unit mass), completing the drift "
    "triptych: KS = max CDF gap (worst point), PSI/JSD = binned "
    "log-ratio mass, W1 = total transport cost. W1 = sum over sorted "
    "distinct cents cells of |F1 - F2| * gap, computed EXACTLY in "
    "integers: one corpus scan folds rows onto the distinct-cents "
    "cell table (conditional int64 counts, map-side combine); the "
    "running CDFs, totals, and LEAD gap ride ordered windows over the "
    "cell table, which is DOMAIN-bounded (events.value lives in "
    "[0, ~560] => <= ~56k cells at ANY corpus size — the kendall-grid "
    "argument, not a corpus-sized single-reducer; fact replication "
    "adds rows to cells, not cells). Per-cell |cum1*n2 - cum2*n1| * "
    "gap in DECIMAL(38,0) (bounded by n^2 * domain ~ 1e29 at 100 TB "
    "< 1e38), exact cross-cell sum, ONE final double divide by "
    "n1*n2*100 — bit-identical in both engines with no per-cell "
    "float at all (stronger than the PSI/JSD round-9 contract). "
    "Reference parity: net-new drift-gate surface.",
    tags=("stats", "window"),
)
def stats_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        fp("value").alias("c"),
        F.when(
            F.col("ts") < F.to_timestamp(F.lit("2024-01-16")), 1
        ).otherwise(0).alias("refw"),
    )
    cells = s.groupBy("c").agg(
        F.sum("refw").alias("c1"),
        F.sum(F.lit(1) - F.col("refw")).alias("c2"),
    )
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("c")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = "decimal(38,0)"
    t = cells.select(
        "c",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
        F.lead("c").over(w_ord).alias("cnext"),
    )
    w = F.abs(
        F.col("cum1").cast(dec) * F.col("n2").cast(dec)
        - F.col("cum2").cast(dec) * F.col("n1").cast(dec)
    ) * F.coalesce(F.col("cnext") - F.col("c"), F.lit(0))
    contrib = t.select("n1", "n2", w.alias("w"))
    return contrib.agg(
        F.max("n1").cast("long").alias("n_ref"),
        F.max("n2").cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(
            F.sum("w").cast("double")
            / F.max("n1")
            / F.max("n2")
            / F.lit(100.0),
            6,
        ).alias("w1_dollars"),
    )


@query(
    "stats_benford",
    oracle="""
    WITH s AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(l_extendedprice * 100, 0)
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM lineitem
    ),
    cells AS (
      SELECT digit, COUNT(*) AS cnt FROM s GROUP BY digit
    ),
    t AS (
      SELECT digit, cnt, SUM(cnt) OVER () AS n FROM cells
    ),
    contrib AS (
      SELECT n,
             CAST(ROUND(
               (CAST(cnt AS DOUBLE) - n * LOG10(1.0 + 1.0 / digit))
               * (CAST(cnt AS DOUBLE) - n * LOG10(1.0 + 1.0 / digit))
               / (n * LOG10(1.0 + 1.0 / digit)), 9)
               AS DECIMAL(38,9)) AS chi_d,
             CAST(ROUND(ABS(CAST(cnt AS DOUBLE) / n
                            - LOG10(1.0 + 1.0 / digit)), 9)
               AS DECIMAL(38,9)) AS mad_d
      FROM t
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_digits,
           ROUND(CAST(SUM(chi_d) AS DOUBLE), 6) AS chi2_stat,
           ROUND(CAST(SUM(mad_d) AS DOUBLE) / 9.0, 6) AS mad_stat
    FROM contrib
    """,
    description="Benford first-significant-digit test over "
    "l_extendedprice — the classic synthetic-data / fraud / "
    "fabrication gate: natural multiplicative data follows "
    "P(d) = log10(1 + 1/d); uniform generators (like TPC-H's price "
    "columns) flunk it loudly, which is exactly what a "
    "training-data-provenance audit wants to detect. The first "
    "significant digit is extracted EXACTLY with zero float: leading "
    "digit of the cents int64 rendered as a string (scaling by 10^2 "
    "preserves the leading significant digit; prices >= $0.01 so "
    "cents >= 1). One corpus scan folds onto a <= 9-cell digit "
    "table (map-side combine); chi-square vs the Benford expectation "
    "and the mean-absolute-deviation of proportions (the "
    "Nigrini MAD gate) are computed per-digit with the identical "
    "IEEE sequence in both engines, per-cell ROUND(..,9) into "
    "DECIMAL(38,9), final round 6. MAD divides by the fixed 9-digit "
    "support (fixture prices populate all nine; a missing digit "
    "would shrink COUNT(*) — reported as n_digits so the assumption "
    "is visible in the output contract). Reference parity: net-new "
    "data-quality surface.",
    tags=("stats",),
)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = li.select(
        F.substring(fp("l_extendedprice").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    cells = s.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    t = cells.select(
        "digit",
        "cnt",
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    dev = F.col("cnt").cast("double") - F.col("n") * exp_p
    contrib = t.select(
        "n",
        F.round(dev * dev / (F.col("n") * exp_p), 9)
        .cast("decimal(38,9)")
        .alias("chi_d"),
        F.round(
            F.abs(F.col("cnt").cast("double") / F.col("n") - exp_p), 9
        )
        .cast("decimal(38,9)")
        .alias("mad_d"),
    )
    return contrib.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_digits"),
        F.round(F.sum("chi_d").cast("double"), 6).alias("chi2_stat"),
        F.round(F.sum("mad_d").cast("double") / F.lit(9.0), 6).alias(
            "mad_stat"
        ),
    )


@query(
    "stats_anova_f",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS grp,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders
    ),
    arms AS (
      SELECT grp, COUNT(*) AS n_i, CAST(SUM(c) AS BIGINT) AS s_i,
             SUM(CAST(c AS HUGEINT) * c) AS ss_i,
             MAX(ABS(c)) AS mx_i
      FROM s GROUP BY grp
    ),
    g AS (
      SELECT COUNT(*) AS k, CAST(SUM(n_i) AS BIGINT) AS n,
             SUM(CAST(s_i AS HUGEINT)) AS stot,
             SUM(ss_i) AS sstot,
             SUM(CAST(ROUND(CAST(CAST(s_i AS HUGEINT) * s_i AS DOUBLE)
                            / n_i, 9) AS DECIMAL(38,9))) AS gsum
      FROM arms
    ),
    f AS (
      SELECT k, n,
             CAST(gsum AS DOUBLE)
               - CAST(stot * stot AS DOUBLE) / n AS ssb,
             CAST(sstot AS DOUBLE) - CAST(gsum AS DOUBLE) AS ssw
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(n AS BIGINT) AS n_rows,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
    FROM f
    """,
    description="Classic one-way ANOVA F-test of o_totalprice across "
    "the 5 order priorities — the PARAMETRIC k-group companion to "
    "stats_kruskal_wallis (rank-based) and stats_welch_ttest "
    "(2-group): F = (SSB/(k-1)) / (SSW/(n-k)) from the "
    "sum-of-squares identities SSB = sum_i s_i^2/n_i - S^2/N and "
    "SSW = SS_total - sum_i s_i^2/n_i. ONE corpus scan, one "
    "partial+final aggregate onto the k-arm cell table: per-arm n, "
    "sum (int64, loud assert_true headroom guard on n*max|c| like "
    "welch), and sum-of-squares in DECIMAL(38,0)/HUGEINT (c^2 * n "
    "overflows int64 at replica scale). The only non-integer step "
    "is s_i^2/n_i — per-arm ROUND(..,9) into DECIMAL(38,9) so the "
    "k-cell cross-arm sum is exact and order-free; the closing "
    "SSB/SSW/F arithmetic is the identical IEEE sequence in both "
    "engines, final round 6. Reference parity: net-new stats "
    "surface.",
    tags=("stats",),
)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("grp"),
        fp("o_totalprice").alias("c"),
    )
    dec = "decimal(38,0)"
    arms = s.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("c").cast("long").alias("s_i"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("ss_i"),
        F.max(F.abs(F.col("c"))).alias("mx_i"),
    )
    g = arms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_i").cast("long").alias("n"),
        F.sum(F.col("s_i").cast(dec)).alias("stot"),
        F.sum("ss_i").alias("sstot"),
        F.sum(
            F.round(
                (F.col("s_i").cast(dec) * F.col("s_i")).cast("double")
                / F.col("n_i"),
                9,
            ).cast("decimal(38,9)")
        ).alias("gsum"),
        F.max("mx_i").alias("mx"),
    )
    # int64 headroom guard (welch pattern): the per-arm sums s_i are
    # int64 — exact while n * max|c| < the module bound (2^62); the
    # sums of squares are already DECIMAL(38,0).  Loud failure, woven
    # into n_rows so pruning cannot drop it from the 1-row final
    # stage; reads N2_HEADROOM_BOUND at plan-construction time so
    # tests can prove both sides without 2e9 rows.
    guard = F.assert_true(
        F.col("n").cast(dec) * F.col("mx").cast(dec)
        < F.lit(N2_HEADROOM_BOUND).cast(dec),
        F.lit(
            "stats_anova_f int64 sum headroom exceeded: n*max|c| >= "
            "2^62 — widen the per-arm sums s_i to DECIMAL(38,0)"
        ),
    )
    ssb = (
        F.col("gsum").cast("double")
        - (F.col("stot") * F.col("stot")).cast("double") / F.col("n")
    )
    ssw = F.col("sstot").cast("double") - F.col("gsum").cast("double")
    f = g.select(
        F.col("k"),
        F.when(guard.isNull(), F.col("n")).alias("n"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
    )
    return f.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n_rows"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


def _drift_ref_cond(
    df: DataFrame,
    ref_cond: Column | None,
    ts_col: str,
    split: str | None,
) -> Column:
    """Resolve the reference-half predicate for the drift family:
    explicit ref_cond > ts_col < split (parse-validated: an
    unparseable split raises instead of degrading to a null
    comparison that silently empties one half) > ts_col < the
    table's MEDIAN timestamp (exact percentile(0.5), O(1) result —
    no fixture date baked in; approx sketches are partition-order
    sensitive on large tables, and a default split that drifts
    between runs would make the whole report non-reproducible)."""
    if ref_cond is not None:
        return ref_cond
    if split is not None:
        split_ts = F.to_timestamp(F.lit(split))
        # ANSI mode throws on the probe, non-ANSI returns null —
        # both fold to the same ValueError
        try:
            probe = df.sparkSession.range(1).select(
                split_ts.alias("t")
            ).first()["t"]
        except Exception:
            probe = None
        if probe is None:
            raise ValueError(
                f"drift_report: unparseable split timestamp {split!r}"
            )
        return F.col(ts_col) < split_ts
    # epoch-micros round-trip: TIMESTAMP_NTZ won't cast to a numeric
    # directly, and comparing in micros on both sides keeps the cut
    # timezone-consistent whatever the column type. EXACT percentile,
    # not percentile_approx: the sketch's merge is partition-order
    # sensitive, so the default split point (and the whole report)
    # could shift between runs of the same table. ts_col comes from
    # the HTTP surface too — resolve it before interpolating.
    if ts_col not in df.columns:
        raise ValueError(
            f"drift_report: unknown ts_col {ts_col!r} — "
            f"table has {df.columns!r}"
        )
    ts_ident = quote_ident(ts_col)
    # pre-aggregate to the distinct-timestamp domain BEFORE the exact
    # percentile: percentile() buffers its full per-group input list,
    # and over raw rows that is the same single-buffer OOM class
    # _cdf_percentiles removed from agg_percentiles at x100. Grouping
    # to (ts, weight) first bounds the buffer by |distinct ts| while
    # keeping the split exact and partition-order invariant
    # (percentile with a frequency column == percentile over the
    # expanded multiset).
    med = (
        df.select(
            F.expr(
                f"unix_micros(cast({ts_ident} as timestamp))"
            ).alias("__um")
        )
        .where(F.col("__um").isNotNull())
        .groupBy("__um")
        .agg(F.count(F.lit(1)).alias("__w"))
        .agg(F.expr("percentile(__um, 0.5, __w)").alias("m"))
        .first()["m"]
    )
    if med is None:
        raise ValueError(
            f"drift_report: cannot derive a median split — "
            f"{ts_col} has no non-null values"
        )
    return (
        F.unix_micros(F.col(ts_col).cast("timestamp")) < F.lit(int(med))
    )


def drift_report(
    df: DataFrame,
    value_col: str = "value",
    ref_cond: Column | None = None,
    ts_col: str = "ts",
    split: str | None = None,
) -> DataFrame:
    """Fused drift report: PSI, Jensen-Shannon, Kolmogorov-Smirnov D,
    and 1-Wasserstein between the reference and current halves of one
    value column, from ONE corpus scan.

    All four statistics are derivable from the same distinct-cents
    cell table (c, c1, c2): KS and W1 ride the ordered-cell CDF
    windows (exact integers: max / sum of |cum1*n2 - cum2*n1|), and
    PSI/JSD re-aggregate the cells onto the $5 bins (a cells-sized
    second fold, never the corpus). Running the four registered
    operators separately costs four corpus scans; a pipeline health
    check wants one. `ref_cond` marks the reference half: ts_col <
    split when given, else ts_col < the table's MEDIAN timestamp (an
    O(1)-result percentile_approx probe — no fixture-specific default
    date baked in). An empty reference or current half fails LOUDLY
    at execution (runtime assert), never null statistics.
    Engine.drift_report / the HTTP drift-report endpoint surface this
    per-table."""
    ref_cond = _drift_ref_cond(df, ref_cond, ts_col, split)
    s = df.filter(F.col(value_col).isNotNull()).select(
        fp(value_col).alias("c"),
        F.when(ref_cond, 1).otherwise(0).alias("refw"),
    )
    cells = s.groupBy("c").agg(
        F.sum("refw").alias("c1"),
        F.sum(F.lit(1) - F.col("refw")).alias("c2"),
    )
    dec = "decimal(38,0)"
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("c")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = cells.select(
        "c",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
        F.lead("c").over(w_ord).alias("cnext"),
    )
    absdiff = F.abs(
        F.col("cum1").cast(dec) * F.col("n2").cast(dec)
        - F.col("cum2").cast(dec) * F.col("n1").cast(dec)
    )
    gap = F.coalesce(F.col("cnext") - F.col("c"), F.lit(0))
    cdf_stats = t.agg(
        F.max("n1").cast("long").alias("n_ref"),
        F.max("n2").cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max(absdiff).alias("ksnum"),
        F.sum(absdiff * gap).alias("w1num"),
    )
    bins = cells.groupBy(
        F.floor(F.col("c") / F.lit(500.0)).alias("bin")
    ).agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    bt = bins.select(
        "c1",
        "c2",
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    both = (F.col("c1") > 0) & (F.col("c2") > 0)
    m = (p + q) * F.lit(0.5)
    jsd_cd = (
        F.when(F.col("c1") > 0, F.lit(0.5) * p * F.log(p / m))
        .otherwise(F.lit(0))
        + F.when(F.col("c2") > 0, F.lit(0.5) * q * F.log(q / m))
        .otherwise(F.lit(0))
    )
    contrib = bt.select(
        F.when(both, 1).otherwise(0).alias("used"),
        F.when(both, F.round((p - q) * F.log(p / q), 9))
        .otherwise(F.lit(0.0))
        .cast("decimal(38,9)")
        .alias("psi_cd"),
        F.round(jsd_cd, 9).cast("decimal(38,9)").alias("jsd_cd"),
    )
    bin_stats = contrib.agg(
        (F.count(F.lit(1)) - F.sum("used"))
        .cast("long")
        .alias("psi_bins_dropped"),
        F.round(F.sum("psi_cd").cast("double"), 6).alias("psi"),
        F.round(F.sum("jsd_cd").cast("double"), 6).alias("jsd_nats"),
    )
    nn = F.col("n_ref").cast("double") * F.col("n_cur")
    # runtime guard: an empty half means every downstream ratio is
    # null/div-by-zero — fail loudly instead (assert_true returns
    # NULL when the condition holds, so the when() threads n_ref
    # through unchanged on the happy path)
    halves_ok = F.assert_true(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.lit(
            "drift_report: empty reference or current half — "
            "check split/ts_col"
        ),
    )
    return cdf_stats.crossJoin(bin_stats).select(
        F.when(halves_ok.isNull(), F.col("n_ref")).alias("n_ref"),
        "n_cur",
        "n_cells",
        F.round(F.col("ksnum").cast("double") / nn, 6).alias("ks_d"),
        F.round(
            F.col("w1num").cast("double") / nn / F.lit(100.0), 6
        ).alias("w1_dollars"),
        "psi",
        "psi_bins_dropped",
        "jsd_nats",
    )


@query(
    "stats_drift_report",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS refw
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT c, SUM(refw) AS c1, SUM(1 - refw) AS c2
      FROM s GROUP BY c
    ),
    t AS (
      SELECT c,
             SUM(c1) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum1,
             SUM(c2) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum2,
             SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2,
             LEAD(c) OVER (ORDER BY c) AS cnext
      FROM cells
    ),
    cdf AS (
      SELECT CAST(MAX(n1) AS BIGINT) AS n_ref,
             CAST(MAX(n2) AS BIGINT) AS n_cur,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             MAX(ABS(CAST(cum1 AS DECIMAL(38,0))
                       * CAST(n2 AS DECIMAL(38,0))
                     - CAST(cum2 AS DECIMAL(38,0))
                       * CAST(n1 AS DECIMAL(38,0)))) AS ksnum,
             SUM(ABS(CAST(cum1 AS DECIMAL(38,0))
                       * CAST(n2 AS DECIMAL(38,0))
                     - CAST(cum2 AS DECIMAL(38,0))
                       * CAST(n1 AS DECIMAL(38,0)))
                 * COALESCE(cnext - c, 0)) AS w1num
      FROM t
    ),
    bins AS (
      SELECT FLOOR(c / 500.0) AS bin, SUM(c1) AS c1, SUM(c2) AS c2
      FROM cells GROUP BY 1
    ),
    bt AS (
      SELECT c1, c2, SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      FROM bins
    ),
    contrib AS (
      SELECT CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END AS used,
             CASE WHEN c1 > 0 AND c2 > 0 THEN
               CAST(ROUND(
                 (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                 * LN((CAST(c1 AS DOUBLE) / n1)
                      / (CAST(c2 AS DOUBLE) / n2)), 9)
                 AS DECIMAL(38,9))
             ELSE CAST(0 AS DECIMAL(38,9)) END AS psi_cd,
             CAST(ROUND(
               CASE WHEN c1 > 0 THEN
                 0.5 * (CAST(c1 AS DOUBLE) / n1)
                 * LN((CAST(c1 AS DOUBLE) / n1)
                      / ((CAST(c1 AS DOUBLE) / n1
                          + CAST(c2 AS DOUBLE) / n2) * 0.5))
               ELSE 0 END
               + CASE WHEN c2 > 0 THEN
                 0.5 * (CAST(c2 AS DOUBLE) / n2)
                 * LN((CAST(c2 AS DOUBLE) / n2)
                      / ((CAST(c1 AS DOUBLE) / n1
                          + CAST(c2 AS DOUBLE) / n2) * 0.5))
               ELSE 0 END, 9) AS DECIMAL(38,9)) AS jsd_cd
      FROM bt
    ),
    binstats AS (
      SELECT CAST(COUNT(*) - SUM(used) AS BIGINT)
               AS psi_bins_dropped,
             ROUND(CAST(SUM(psi_cd) AS DOUBLE), 6) AS psi,
             ROUND(CAST(SUM(jsd_cd) AS DOUBLE), 6) AS jsd_nats
      FROM contrib
    )
    SELECT n_ref, n_cur, n_cells,
           ROUND(CAST(ksnum AS DOUBLE)
                 / (CAST(n_ref AS DOUBLE) * n_cur), 6) AS ks_d,
           ROUND(CAST(w1num AS DOUBLE)
                 / (CAST(n_ref AS DOUBLE) * n_cur) / 100.0, 6)
             AS w1_dollars,
           psi, psi_bins_dropped, jsd_nats
    FROM cdf, binstats
    """,
    description="Fused drift report — PSI + Jensen-Shannon + "
    "Kolmogorov-Smirnov D + 1-Wasserstein between the first and "
    "second half of the event value distribution, from ONE corpus "
    "scan: all four statistics derive from the same distinct-cents "
    "cell table (KS = exact-integer max of |cum1*n2 - cum2*n1| over "
    "the ordered-cell CDF, W1 = its gap-weighted sum; PSI/JSD "
    "re-aggregate the CELLS onto the $5 bins — a cells-sized second "
    "fold, never a second corpus pass). Running the four registered "
    "single-stat operators costs four corpus scans; the nightly "
    "pipeline health check wants one row with all the gates, which "
    "is exactly what Engine.drift_report / the HTTP drift-report "
    "endpoint serve per table. Field-for-field consistency with the "
    "standalone operators is pinned in tests; each statistic keeps "
    "its own exactness contract (integer KS/W1, per-bin round-9 "
    "decimal PSI/JSD).",
    tags=("stats", "window", "drift"),
)
def stats_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drift_report(load(spark, sf_dir, "events"), split="2024-01-16")


def drift_report_multi(
    df: DataFrame,
    value_cols: list[str],
    ref_cond: Column | None = None,
    ts_col: str = "ts",
    split: str | None = None,
) -> DataFrame:
    """drift_report over EVERY listed numeric column in ONE corpus
    scan — the nightly whole-table gate (per-column calls would cost
    len(value_cols) scans). stack() unpivots the columns inside the
    scan projection; everything downstream keys on (vcol, cents), so
    the windows stay cells-sized per column and the engine shuffles
    one stacked cell table instead of the corpus.

    Columns with heterogeneous scales get ADAPTIVE bins for PSI/JSD:
    20 equal-width bins over each column's own [min, max] cents range
    (integer widths — deterministic in both engines), instead of the
    single-column twin's fixed $5 buckets which would degenerate for
    sub-dollar columns like a discount rate. KS/W1 bin-free as ever.
    One row per column: vcol, n_ref, n_cur, n_cells, ks_d, w1_units,
    psi, psi_bins_dropped, jsd_nats."""
    if not value_cols:
        raise ValueError("drift_report_multi: value_cols is empty")
    # the column list reaches this F.expr straight from the HTTP
    # ?cols= param — resolve each name against the schema FIRST (a
    # non-column string must never be interpolated into SQL text) and
    # backtick-quote the identifiers so legitimate names needing
    # quoting parse too
    unknown = [c for c in value_cols if c not in df.columns]
    if unknown:
        raise ValueError(
            f"drift_report_multi: unknown column(s) {unknown!r} — "
            f"table has {df.columns!r}"
        )
    ref_cond = _drift_ref_cond(df, ref_cond, ts_col, split)
    # stack() needs homogeneous value types — normalize every column
    # to double (fp()'s exact domain covers |x| * 100 < 2^52)
    pairs = ", ".join(
        "'{lbl}', cast({ident} as double)".format(
            lbl=c.replace("'", "''"), ident=quote_ident(c)
        )
        for c in value_cols
    )
    s = (
        df.select(
            F.expr(f"stack({len(value_cols)}, {pairs})").alias(
                "vcol", "v"
            ),
            F.when(ref_cond, 1).otherwise(0).alias("refw"),
        )
        .filter(F.col("v").isNotNull())
        .select("vcol", fp("v").alias("c"), "refw")
    )
    # ONE corpus scan: the cell table feeds BOTH the CDF stats and the
    # PSI/JSD bins, and AQE does not reuse a shared subtree across
    # consumers (the q15 lesson) — a LAZY localCheckpoint turns the
    # cells into one RDD both consumers reference, so the corpus fold
    # runs once INSIDE the query execution (eager would shift it to
    # plan-construction time and flatter the benchmarks). Cells are
    # value-domain-bounded per column, never corpus-rows.
    cells = (
        s.groupBy("vcol", "c")
        .agg(
            F.sum("refw").alias("c1"),
            F.sum(F.lit(1) - F.col("refw")).alias("c2"),
        )
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    # per-column totals/extrema: one tiny agg, broadcast everywhere
    # (replaces two near-single-reducer unbounded windows over the
    # full cell table)
    tot = cells.groupBy("vcol").agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.min("c").alias("cmin"),
        F.max("c").alias("cmax"),
    )
    # bucketed two-level cumulative sums (the spearman y-rank pattern):
    # local prefix within (vcol, bucket) + bucket offsets from the
    # bucket-level table — no per-column single-task sort of the whole
    # cell table. Bucket lead(min c) stitches cnext across boundaries.
    yb = cells.withColumn("b", F.floor(F.col("c") / F.lit(100000)))
    w_loc = (
        Window.partitionBy("vcol", "b")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("vcol", "b").orderBy("c")
    loc = yb.select(
        "vcol", "b", "c", "c1", "c2",
        F.sum("c1").over(w_loc).alias("lcum1"),
        F.sum("c2").over(w_loc).alias("lcum2"),
        F.lead("c").over(w_lead).alias("lnext"),
    )
    bt0 = yb.groupBy("vcol", "b").agg(
        F.sum("c1").alias("bc1"),
        F.sum("c2").alias("bc2"),
        F.min("c").alias("bmin"),
    )
    w_ob = Window.partitionBy("vcol").orderBy("b")
    w_obp = w_ob.rowsBetween(Window.unboundedPreceding, -1)
    off = bt0.select(
        "vcol", "b",
        F.coalesce(F.sum("bc1").over(w_obp), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("bc2").over(w_obp), F.lit(0)).alias("off2"),
        F.lead("bmin").over(w_ob).alias("nextbmin"),
    )
    t = (
        loc.join(F.broadcast(off), ["vcol", "b"])
        .join(F.broadcast(tot), "vcol")
        .select(
            "vcol", "c", "n1", "n2",
            (F.col("off1") + F.col("lcum1")).alias("cum1"),
            (F.col("off2") + F.col("lcum2")).alias("cum2"),
            F.coalesce(F.col("lnext"), F.col("nextbmin")).alias("cnext"),
        )
    )
    absdiff = F.abs(
        F.col("cum1").cast(dec) * F.col("n2").cast(dec)
        - F.col("cum2").cast(dec) * F.col("n1").cast(dec)
    )
    gap = F.coalesce(F.col("cnext") - F.col("c"), F.lit(0))
    halves_ok = F.assert_true(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.lit(
            "drift_report_multi: empty reference or current half — "
            "check split/ts_col"
        ),
    )
    cdf_stats = t.groupBy("vcol").agg(
        F.max("n1").cast("long").alias("n_ref"),
        F.max("n2").cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max(absdiff).alias("ksnum"),
        F.sum(absdiff * gap).alias("w1num"),
    )
    # adaptive 20-bin grid per column: integer width over the cents
    # range (>= 1), from the broadcast totals — no extra corpus scan
    width = F.greatest(
        F.lit(1),
        F.floor((F.col("cmax") - F.col("cmin") + F.lit(19)) / F.lit(20)),
    )
    bins = (
        cells.join(F.broadcast(tot), "vcol")
        .groupBy(
            "vcol",
            F.floor((F.col("c") - F.col("cmin")) / width).alias("bin"),
        )
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    bt = bins.join(
        F.broadcast(tot.select("vcol", "n1", "n2")), "vcol"
    ).select("vcol", "c1", "c2", "n1", "n2")
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    both = (F.col("c1") > 0) & (F.col("c2") > 0)
    m = (p + q) * F.lit(0.5)
    jsd_cd = (
        F.when(F.col("c1") > 0, F.lit(0.5) * p * F.log(p / m))
        .otherwise(F.lit(0))
        + F.when(F.col("c2") > 0, F.lit(0.5) * q * F.log(q / m))
        .otherwise(F.lit(0))
    )
    contrib = bt.select(
        "vcol",
        F.when(both, 1).otherwise(0).alias("used"),
        F.when(both, F.round((p - q) * F.log(p / q), 9))
        .otherwise(F.lit(0.0))
        .cast("decimal(38,9)")
        .alias("psi_cd"),
        F.round(jsd_cd, 9).cast("decimal(38,9)").alias("jsd_cd"),
    )
    bin_stats = contrib.groupBy("vcol").agg(
        (F.count(F.lit(1)) - F.sum("used"))
        .cast("long")
        .alias("psi_bins_dropped"),
        F.round(F.sum("psi_cd").cast("double"), 6).alias("psi"),
        F.round(F.sum("jsd_cd").cast("double"), 6).alias("jsd_nats"),
    )
    nn = F.col("n_ref").cast("double") * F.col("n_cur")
    return (
        cdf_stats.join(F.broadcast(bin_stats), "vcol")
        .select(
            "vcol",
            F.when(halves_ok.isNull(), F.col("n_ref")).alias("n_ref"),
            "n_cur",
            "n_cells",
            F.round(F.col("ksnum").cast("double") / nn, 6).alias("ks_d"),
            F.round(
                F.col("w1num").cast("double") / nn / F.lit(100.0), 6
            ).alias("w1_units"),
            "psi",
            "psi_bins_dropped",
            "jsd_nats",
        )
        .orderBy("vcol")
    )


@query(
    "stats_drift_report_multi",
    oracle="""
    WITH s AS (
      SELECT vcol, CAST(ROUND(v * 100, 0) AS BIGINT) AS c,
             CASE WHEN l_shipdate < TIMESTAMP '1998-06-01'
                  THEN 1 ELSE 0 END AS refw
      FROM (
        SELECT 'l_discount' AS vcol, l_discount AS v, l_shipdate
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice, l_shipdate
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', l_quantity, l_shipdate FROM lineitem
      ) WHERE v IS NOT NULL
    ),
    cells AS (
      SELECT vcol, c, SUM(refw) AS c1, SUM(1 - refw) AS c2
      FROM s GROUP BY 1, 2
    ),
    t AS (
      SELECT vcol, c, c1, c2,
             SUM(c1) OVER (PARTITION BY vcol ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
             SUM(c2) OVER (PARTITION BY vcol ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
             SUM(c1) OVER (PARTITION BY vcol) AS n1,
             SUM(c2) OVER (PARTITION BY vcol) AS n2,
             LEAD(c) OVER (PARTITION BY vcol ORDER BY c) AS cnext,
             MIN(c) OVER (PARTITION BY vcol) AS cmin,
             MAX(c) OVER (PARTITION BY vcol) AS cmax
      FROM cells
    ),
    cdf AS (
      SELECT vcol,
             CAST(MAX(n1) AS BIGINT) AS n_ref,
             CAST(MAX(n2) AS BIGINT) AS n_cur,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             MAX(ABS(CAST(cum1 AS DECIMAL(38,0))
                       * CAST(n2 AS DECIMAL(38,0))
                     - CAST(cum2 AS DECIMAL(38,0))
                       * CAST(n1 AS DECIMAL(38,0)))) AS ksnum,
             SUM(ABS(CAST(cum1 AS DECIMAL(38,0))
                       * CAST(n2 AS DECIMAL(38,0))
                     - CAST(cum2 AS DECIMAL(38,0))
                       * CAST(n1 AS DECIMAL(38,0)))
                 * COALESCE(cnext - c, 0)) AS w1num
      FROM t GROUP BY 1
    ),
    bins AS (
      SELECT vcol,
             FLOOR((c - cmin)
               / GREATEST(1, FLOOR((cmax - cmin + 19) / 20))) AS bin,
             SUM(c1) AS c1, SUM(c2) AS c2
      FROM t GROUP BY 1, 2
    ),
    bt AS (
      SELECT vcol, c1, c2,
             SUM(c1) OVER (PARTITION BY vcol) AS n1,
             SUM(c2) OVER (PARTITION BY vcol) AS n2
      FROM bins
    ),
    contrib AS (
      SELECT vcol,
             CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END AS used,
             CASE WHEN c1 > 0 AND c2 > 0 THEN
               CAST(ROUND(
                 (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                 * LN((CAST(c1 AS DOUBLE) / n1)
                      / (CAST(c2 AS DOUBLE) / n2)), 9)
                 AS DECIMAL(38,9))
             ELSE CAST(0 AS DECIMAL(38,9)) END AS psi_cd,
             CAST(ROUND(
               CASE WHEN c1 > 0 THEN
                 0.5 * (CAST(c1 AS DOUBLE) / n1)
                 * LN((CAST(c1 AS DOUBLE) / n1)
                      / ((CAST(c1 AS DOUBLE) / n1
                          + CAST(c2 AS DOUBLE) / n2) * 0.5))
               ELSE 0 END
               + CASE WHEN c2 > 0 THEN
                 0.5 * (CAST(c2 AS DOUBLE) / n2)
                 * LN((CAST(c2 AS DOUBLE) / n2)
                      / ((CAST(c1 AS DOUBLE) / n1
                          + CAST(c2 AS DOUBLE) / n2) * 0.5))
               ELSE 0 END, 9) AS DECIMAL(38,9)) AS jsd_cd
      FROM bt
    ),
    binstats AS (
      SELECT vcol,
             CAST(COUNT(*) - SUM(used) AS BIGINT)
               AS psi_bins_dropped,
             ROUND(CAST(SUM(psi_cd) AS DOUBLE), 6) AS psi,
             ROUND(CAST(SUM(jsd_cd) AS DOUBLE), 6) AS jsd_nats
      FROM contrib GROUP BY 1
    )
    SELECT vcol, n_ref, n_cur, n_cells,
           ROUND(CAST(ksnum AS DOUBLE)
                 / (CAST(n_ref AS DOUBLE) * n_cur), 6) AS ks_d,
           ROUND(CAST(w1num AS DOUBLE)
                 / (CAST(n_ref AS DOUBLE) * n_cur) / 100.0, 6)
             AS w1_units,
           psi, psi_bins_dropped, jsd_nats
    FROM cdf JOIN binstats USING (vcol)
    ORDER BY vcol
    """,
    description="Whole-table drift gate: the fused PSI/JSD/KS/W1 "
    "report over EVERY monitored numeric column of lineitem "
    "(quantity, extendedprice, discount) in ONE corpus scan — "
    "stack() unpivots the columns inside the scan projection (the "
    "dataset-card GROUPING SETS trick applied to drift cells), all "
    "downstream windows partition by (column, cents-cell) so nothing "
    "runs over the corpus and nothing is single-reducer. PSI/JSD use "
    "ADAPTIVE 20-bin grids per column (integer widths over each "
    "column's own cents range) so a 0-10%% discount rate and a "
    "100k-cent price column both get meaningful bins; KS/W1 stay "
    "bin-free on the exact cell CDF. Split: shipdate < 1998-06-01 "
    "(explicit; Engine.drift_report defaults to the median "
    "timestamp). Engine/HTTP: GET /tables/{t}/drift-report?cols=a,b.",
    tags=("stats", "window", "drift"),
)
def stats_drift_report_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drift_report_multi(
        load(spark, sf_dir, "lineitem"),
        value_cols=["l_quantity", "l_extendedprice", "l_discount"],
        ts_col="l_shipdate",
        split="1998-06-01",
    )

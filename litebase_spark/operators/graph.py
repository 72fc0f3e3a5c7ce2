"""Graph analytics over relational edge lists — PageRank at corpus scale.

Web-corpus curation pipelines rank pages by link authority before
sampling (PageRank / harmonic centrality are standard quality signals
for pretraining-data selection over CommonCrawl-scale link graphs).
The reference engine has no graph surface (pure SQLite, no recursive
iteration beyond WITH RECURSIVE); this module is net-new capability in
the same spirit as `dedup_components` (operators/dedup.py:614) —
iterative graph algebra expressed as Spark relational plans.

Scale design (what must survive 100 TB / 1000 executors):

  * The edge list is a DataFrame keyed by `src`; out-degrees are one
    partial-agg groupBy, computed once and reused every iteration.
  * Each PageRank iteration scatters `rank DIV outdeg` along edges and
    gathers with a long sum keyed by `dst`. The rank vector is O(nodes)
    and never leaves the cluster.
  * Dangling mass (nodes with no out-edges) is a 1-row aggregate
    cross-joined back in — the scalar-subquery shape, not a driver
    collect.
  * Iteration count is fixed and small (damped PageRank converges
    geometrically; 5 rounds here). The ranks are checkpointed eagerly
    at the top of every round to keep lineage flat.
  * A round is not one shuffle. At sf0.01 each round's eager
    checkpoint runs 13-14 Spark jobs: the checkpointed edge set keeps
    an origin-stats size estimate of ~10.9 GB, so Catalyst plans
    sort-merge joins and every round shuffles edges and ranks by `src`;
    AQE demotes the joins to broadcast only after those shuffles ran.

Oracle-exactness: ranks live in LONG fixed point (1e-12 units) and
every per-iteration operation is integer arithmetic — `DIV` for the
out-degree split, the damping ratio 85/100, and the uniform teleport
share; long sums for the gather. Spark and DuckDB therefore produce
bit-identical rank vectors (the portable-determinism contract of
functions/portable.py — double sums would diverge in the low bits with
summation order, integer sums cannot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from litebase_spark.catalog import load, query
from litebase_spark.plans.recursive import fixpoint

_SCALE = 10**12  # rank units per unit mass; total mass 1e12 << 2^63
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as a rational
_ITERS = 5
_SUPP_OFFSET = 10**6  # suppliers share the node-id space, offset


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed purchase graph from the fixtures: one edge
    customer -> supplier per distinct (o_custkey, l_suppkey) pair in
    the order history. Suppliers have no out-edges, so the graph has
    real dangling nodes and the redistribution term is exercised."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
        )
        .distinct()
    )


def pagerank(nodes: DataFrame, edges: DataFrame, n_nodes: int,
             iters: int = _ITERS) -> DataFrame:
    """Damped PageRank over nodes[node] / edges[src, dst], ranks in
    LONG 1e-12 fixed point; returns (node, rank).

    `n_nodes` is the (known or pre-counted) node count — a model-size
    scalar, like the k in k-means. All arithmetic is integer, so the
    result is engine- and partition-invariant."""
    base = _SCALE // n_nodes
    teleport = (_DAMP_DEN - _DAMP_NUM) * base // _DAMP_DEN

    # Edges/out-degrees are reused every round; ranks are referenced by
    # three branches per round (dangling, scatter, rewrite) — checkpoint
    # both so each round computes its predecessor exactly once and the
    # lineage stays flat (dedup_components discipline, dedup.py:803).
    edges = edges.localCheckpoint(eager=True)
    outdeg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank"))
    for _ in range(iters):
        ranks = ranks.localCheckpoint(eager=True)
        # Mass parked on dangling nodes, as a 1-row relation (scalar
        # subquery shape: 1-row broadcast, no driver materialization).
        dangling = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dangling"))
        )
        contribs = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({_DAMP_NUM} * (coalesce(in_mass, CAST(0 AS LONG))"
                        f" + dangling DIV {n_nodes})) DIV {_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
        )
    return ranks


def _oracle_sql() -> str:
    """Unrolled 5-iteration PageRank replay for DuckDB (same style as
    the embedding_kmeans unrolled-CTE Lloyd replay)."""
    head = f"""
    WITH nodes AS (
      SELECT c_custkey AS node FROM customer
      UNION ALL
      SELECT s_suppkey + {_SUPP_OFFSET} FROM supplier
    ),
    edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + {_SUPP_OFFSET} AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    p AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
    r0 AS (
      SELECT node, ({_SCALE} // n)::BIGINT AS rank FROM nodes CROSS JOIN p
    )"""
    steps = []
    for i in range(1, _ITERS + 1):
        prev = f"r{i - 1}"
        steps.append(f"""
    d{i} AS (
      SELECT COALESCE(SUM(rank), 0)::BIGINT AS dangling
      FROM {prev} WHERE node NOT IN (SELECT src FROM outdeg)
    ),
    c{i} AS (
      SELECT dst, SUM(rank // outdeg)::BIGINT AS in_mass
      FROM edges JOIN outdeg USING (src)
                 JOIN {prev} ON {prev}.node = edges.src
      GROUP BY dst
    ),
    r{i} AS (
      SELECT node,
             (({_DAMP_DEN - _DAMP_NUM} * ({_SCALE} // n) // {_DAMP_DEN})
              + ({_DAMP_NUM} * (COALESCE(in_mass, 0) + dangling // n))
                // {_DAMP_DEN})::BIGINT AS rank
      FROM nodes CROSS JOIN p CROSS JOIN d{i}
           LEFT JOIN c{i} ON node = dst
    )""")
    tail = f"""
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier'
                ELSE 'customer' END AS node_kind,
           rank AS rank_e12
    FROM r{_ITERS}
    ORDER BY rank_e12 DESC, node
    LIMIT 25
    """
    return head + "," + ",".join(steps) + tail


@query(
    "graph_pagerank",
    oracle=_oracle_sql(),
    description="Damped PageRank (5 iterations, d=0.85) over the "
    "customer->supplier purchase graph, with dangling-mass "
    "redistribution — the link-authority quality signal of web-corpus "
    "curation, as iterative relational algebra: each iteration "
    "scatters rank DIV outdeg along edges and long-sum gathers keyed by "
    "dst, out-degrees computed once, dangling mass a 1-row aggregate "
    "cross-joined back in. Each round's eager checkpoint runs 13-14 "
    "Spark jobs at sf0.01: the checkpointed edges' ~10.9 GB size "
    "estimate plans sort-merge joins that shuffle edges and ranks by "
    "src before AQE demotes them to broadcast. LONG 1e-12 fixed-point ranks "
    "make the vector bit-identical across engines (oracle = unrolled "
    "5-round CTE replay). Top-25 by rank via TakeOrdered.",
    tags=("graph", "iterative", "pagerank"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = (
        load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("node"))
        .unionAll(
            load(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey") + F.lit(_SUPP_OFFSET)).alias("node"))
        )
    )
    n_nodes = nodes.count()
    edges = purchase_edges(spark, sf_dir)
    ranks = pagerank(nodes, edges, n_nodes)
    return (
        ranks.select(
            "node",
            F.when(F.col("node") >= _SUPP_OFFSET, F.lit("supplier"))
            .otherwise(F.lit("customer")).alias("node_kind"),
            F.col("rank").alias("rank_e12"),
        )
        .orderBy(F.desc("rank_e12"), "node")
        .limit(25)
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT e1.u AS part_a, e1.v AS part_b, e2.v AS part_c
    FROM e e1 JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ORDER BY part_a, part_b, part_c
    """,
    description="Triangle enumeration over the co-purchase graph "
    "(market-basket association: parts bought together in >= 2 orders; "
    "triangles are cohesive product triples). The canonical distributed "
    "shape: edges oriented low-id -> high-id so each triangle counts "
    "exactly once, wedges from one edge-edge equi-join keyed by the "
    "shared vertex, closed by a second equi-join against the edge list "
    "— three shuffles total, no enumeration of non-edges. Co-purchase "
    "pair building joins order-item sets within an order key (bounded "
    "by basket size squared per order, never catalog x catalog). At "
    "100 TB the orientation alone bounds wedge skew; degree-ordered "
    "orientation (order by (degree, id)) is the documented swap-in for "
    "power-law graphs.",
    tags=("graph", "triangles", "basket"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)  # three join sides reuse the edges
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("part_a"),
            F.col("e1.v").alias("part_b"),
            F.col("e2.v").alias("part_c"),
        )
        .orderBy("part_a", "part_b", "part_c")
    )


_KCORE_K = 2
# Spark-side fixpoint bound: each round peels at least one whole fringe
# layer, so rounds needed = depth of the acyclic fringe, not |V|. 40
# covers any realistic co-purchase graph; a pendant chain deeper than
# that raises loudly instead of silently returning a superset core.
_KCORE_MAX_ROUNDS = 40
# Oracle unroll depth == the Spark fixpoint bound: any graph the Spark
# side can converge on (it raises loudly past _KCORE_MAX_ROUNDS), the
# oracle replays to at least the same depth, so the two engines cannot
# legitimately diverge on a deep peel. The peel is idempotent once
# converged, so over-unrolling costs only no-op CTE stages.
_KCORE_ITERS = _KCORE_MAX_ROUNDS


def _kcore_oracle() -> str:
    """Unrolled peel-to-the-fixpoint-bound 2-core replay for DuckDB
    (pagerank's unrolled-CTE style: the peel is idempotent once
    converged, so a fixed unroll is deterministic in both engines even
    if convergence lands early)."""
    head = """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )"""
    steps = []
    for i in range(1, _KCORE_ITERS + 1):
        # each e{i} is referenced twice by round i+1 (degree union) —
        # MATERIALIZED stops DuckDB's inlining from expanding 2^8
        # copies of the base scan (the Spark side localCheckpoints for
        # the same reason)
        prev = f"e{i - 1}"
        steps.append(f"""
    deg{i} AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM {prev}
        UNION ALL SELECT v FROM {prev}
      ) GROUP BY node
    ),
    keep{i} AS MATERIALIZED (
      SELECT node FROM deg{i} WHERE d >= {_KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT node FROM keep{i})
        AND v IN (SELECT node FROM keep{i})
    )""")
    tail = f"""
    SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (
      SELECT u AS node FROM e{_KCORE_ITERS}
      UNION ALL SELECT v FROM e{_KCORE_ITERS}
    ) GROUP BY node
    ORDER BY part
    """
    return head + "," + ",".join(steps) + tail


def _kcore_peel(edges: DataFrame) -> DataFrame:
    """The edges whose both ends have degree >= _KCORE_K."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
    return (
        edges.join(keep.withColumnRenamed("node", "u"), "u", "semi")
        .join(keep.withColumnRenamed("node", "v"), "v", "semi")
        .select("u", "v")
    )


@query(
    "graph_k_core",
    oracle=_kcore_oracle(),
    description="2-core decomposition of the co-purchase graph "
    "(graph_triangle_count's edge set: parts co-bought in >= 2 "
    "orders): iteratively peel degree-1 nodes until every surviving "
    "vertex has degree >= 2 — strips the acyclic fringe (pendant "
    "vertices, trees) down to the cycle-containing skeleton, the "
    "standard degeneracy prefilter before expensive per-node "
    "analytics (community detection / embedding propagation run on "
    "the core, not the hairball). Iterative relational algebra in "
    "the pagerank/components style: each peel is ONE degree "
    "aggregate (endpoint union, map-side combine) + two semi joins "
    "against the surviving-node set — NO forced broadcast hint: the "
    "keep-set is O(|parts|) and at sf100+ exceeds safe broadcast "
    "size, so AQE picks broadcast vs shuffle from runtime stats "
    "(same size-adaptive stance as join_range_interval's build "
    "side). Each peel is one plans.recursive.fixpoint round: a lazy "
    "localCheckpoint written by the round's edge count, its one Spark "
    "action. The loop stops when a peel removes no edge (the peel "
    "only deletes, so an unchanged count IS an unchanged set) and "
    "raises RecursionError past _KCORE_MAX_ROUNDS rather than "
    "returning a silent superset core. Fixtures "
    "converge in <= 8 rounds (3445 -> 3108 edges at sf0.01, 3573 "
    "-> 3 at sf0.1). All arithmetic is integer (degrees), so "
    "the surviving node set and degrees are bit-identical in both "
    "engines; oracle = the MATERIALIZED-CTE replay unrolled to the "
    "same _KCORE_MAX_ROUNDS bound as the Spark fixpoint. "
    "Output: surviving parts with their in-core degrees.",
    tags=("graph", "iterative"),
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    prev = None
    rounds = fixpoint(
        edges, _kcore_peel, max_rounds=_KCORE_MAX_ROUNDS, what="graph_k_core"
    )
    for edges in rounds:  # the peel only deletes: same count, same set
        if (cnt := edges.count()) == prev:
            break
        prev = cnt
    return (
        edges.select(F.col("u").alias("part"))
        .unionAll(edges.select(F.col("v").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("part")
    )

"""Scalar-function coverage queries (SURVEY §2.B scalar functions).

Each family from the reference's SQLite function surface gets a catalog
query exercising the Spark equivalents against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from litebase_spark.catalog import load, query
from litebase_spark.functions.dialect import rewrite_sqlite_functions


def _sqlite(expr: str):
    """A SQLite SQL expression as a Column, through the dialect layer."""
    return F.expr(rewrite_sqlite_functions(expr))


@query(
    "func_string",
    oracle="""
    SELECT p_partkey,
           LENGTH(p_name) AS name_len,
           UPPER(p_brand) AS brand_upper,
           LOWER(p_type) AS type_lower,
           SUBSTR(p_name, 1, 8) AS name_prefix,
           INSTR(p_name, 'a') AS first_a,
           REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
           TRIM(CONCAT('  ', p_type, '  ')) AS type_trimmed,
           LOWER(HEX(p_brand)) AS brand_hex,
           CONCAT_WS('|', p_brand, p_type) AS brand_type,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           REVERSE(p_brand) AS brand_rev,
           ASCII(p_name) AS first_cp
    FROM part
    """,
    description="String family: length/upper/lower/substr/instr/replace/"
    "trim/hex/concat_ws/lpad/reverse/ascii — SQLite core set "
    "(SURVEY §2.B); all JVM builtins, stay in codegen.",
    tags=("functions",),
)
def func_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").alias("name_len"),
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.instr("p_name", "a").alias("first_a"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias(
            "type_trimmed"
        ),
        F.lower(F.hex(F.col("p_brand"))).alias("brand_hex"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.ascii("p_name").alias("first_cp"),
    )


@query(
    "func_date",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate) AS order_year,
           MONTH(o_orderdate) AS order_month,
           DAY(o_orderdate) AS order_day,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_iso,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS order_epoch,
           ROUND(EPOCH(o_orderdate) / 86400.0 + 2440587.5, 6) AS order_julian,
           DATE_DIFF('day', o_orderdate, TIMESTAMP '2000-01-01')
               AS days_to_y2k
    FROM orders
    """,
    description="Date/time family: year/month/day extraction, date_trunc, "
    "SQLite strftime (dialect translation to date_format), unixepoch, "
    "julianday (SQLite convention), datediff. SURVEY §2.B date family.",
    tags=("functions", "compat"),
)
def func_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        _sqlite("strftime('%Y-%m-%d', o_orderdate)").alias("order_iso"),
        _sqlite("unixepoch(o_orderdate)").alias("order_epoch"),
        _sqlite("round(julianday(o_orderdate), 6)").alias("order_julian"),
        F.datediff(
            F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")
        ).cast("bigint").alias("days_to_y2k"),
    )


@query(
    "func_datetime_modifiers",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 90 DAY AS due_date,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP)
               + INTERVAL 1 MONTH AS next_month_start,
           o_orderdate - INTERVAL 12 HOUR AS half_day_before
    FROM orders
    """,
    description="SQLite datetime modifiers "
    "(datetime(ts,'+90 days'), 'start of month' composition, '-12 hours') "
    "— SURVEY §7.3 hard part: modifier-string translation.",
    tags=("functions", "compat"),
)
def func_datetime_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        _sqlite("CAST(datetime(o_orderdate, '+90 days') AS TIMESTAMP)").alias(
            "due_date"
        ),
        _sqlite(
            "CAST(datetime(o_orderdate, 'start of month', '+1 month') "
            "AS TIMESTAMP)"
        ).alias("next_month_start"),
        _sqlite("CAST(datetime(o_orderdate, '-12 hours') AS TIMESTAMP)").alias(
            "half_day_before"
        ),
    )


@query(
    "func_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(json_extract_string(props, '$.k')) AS min_k_str
    FROM events
    GROUP BY event_type
    """,
    description="JSON1 family (SURVEY §2.B): json_extract / ->> analog via "
    "get_json_object; typed extraction + aggregation over JSON props.",
    tags=("functions", "json"),
)
def func_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(k.cast("bigint")).alias("sum_k"),
        F.min(k).alias("min_k_str"),
    )


@query(
    "func_json_each",
    oracle="""
    -- json_each table function is unavailable in DuckDB 1.0; the fixture
    -- props are single-key objects, so key/value pairs are extracted
    -- positionally to express the same semantics.
    SELECT regexp_extract(props, '"(\\w+)"', 1) AS prop_key,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_val
    FROM events
    GROUP BY 1
    """,
    description="SQLite json_each virtual table analog: from_json to a map "
    "+ explode (SURVEY §2.B: json_each -> explode).",
    tags=("functions", "json"),
)
def func_json_each(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        e.select(F.explode(m).alias("prop_key", "prop_val"))
        .groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("prop_val").cast("bigint")).alias("sum_val"),
        )
    )


@query(
    "func_json_group",
    oracle="""
    SELECT user_id,
           CAST(to_json(list_sort(list(k))) AS VARCHAR) AS ks
    FROM (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events WHERE event_type = 'purchase'
    )
    GROUP BY user_id
    """,
    description="SQLite json_group_array analog: to_json(collect_list) "
    "(sorted for determinism).",
    tags=("functions", "json"),
)
def func_json_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("user_id", k.alias("k"))
        .groupBy("user_id")
        .agg(F.to_json(F.array_sort(F.collect_list("k"))).alias("ks"))
    )


@query(
    "func_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS disc_dev,
           ROUND(l_extendedprice, 1) AS price_r1,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           CAST(CEIL(l_quantity / 7) AS BIGINT) AS qty_ceil7,
           CAST(SIGN(l_quantity - 25) AS BIGINT) AS qty_sign,
           GREATEST(l_quantity, 25.0) AS qty_hi,
           LEAST(l_quantity, 25.0) AS qty_lo,
           MOD(CAST(l_quantity AS BIGINT), 7) AS qty_mod7
    FROM lineitem
    """,
    description="Math family (SQLite core — no MATH_FUNCS flag, "
    "SURVEY §2.B): abs/round/sign/max(x,y)->greatest/min(x,y)->least, "
    "floor/ceil/mod. Spark's full math lib is a strict superset.",
    tags=("functions",),
)
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil7"),
        F.signum(F.col("l_quantity") - 25).cast("bigint").alias("qty_sign"),
        F.greatest("l_quantity", F.lit(25.0)).alias("qty_hi"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_lo"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           COUNT(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
           CAST(SUM(CAST(l_quantity AS BIGINT))
                FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS qty_f
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="Aggregate FILTER (WHERE ...) clause — native SQL syntax "
    "in Spark SQL (and SQLite >= 3.30 / DuckDB), not just the "
    "when()-rewrite form window_filter_clause demonstrates. Compiles to "
    "the same single-pass conditional aggregation.",
    tags=("agg", "functions"),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.catalog import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
               COUNT(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
               CAST(SUM(CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS qty_f
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "func_printf",
    oracle="""
    SELECT o_orderkey,
           printf('%s-%08d', o_orderstatus, o_orderkey) AS order_tag,
           printf('%.2f', o_totalprice) AS price_str,
           format('{}#{}', o_orderpriority, o_custkey) AS pri_tag
    FROM orders
    """,
    description="printf/format family (SQLite core printf/format, "
    "SURVEY §2.B string row): C-style formatting via format_string and "
    "brace-style via an in-plan concat (Spark has no brace format; the "
    "rewrite is exact).",
    tags=("functions",),
)
def func_printf(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.format_string(
            "%s-%08d", F.col("o_orderstatus"), F.col("o_orderkey")
        ).alias("order_tag"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("price_str"),
        F.concat_ws(
            "#", F.col("o_orderpriority"), F.col("o_custkey")
        ).alias("pri_tag"),
    )


@query(
    "func_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS key_band,
           o_orderkey | 4096 AS key_or,
           xor(o_orderkey, o_custkey) AS key_xor,
           CAST(~o_orderkey AS BIGINT) AS key_not,
           o_orderkey << 3 AS key_shl,
           o_orderkey >> 2 AS key_shr
    FROM orders
    """,
    description="Bitwise operator family (SQLite core: &, |, <<, >>, ~; "
    "XOR is spelled differently per dialect — SQLite lacks it, Spark and "
    "DuckDB expose it as a function). SURVEY §2.B expression surface.",
    tags=("functions",),
)
def func_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("key_band"),
        k.bitwiseOR(F.lit(4096)).alias("key_or"),
        k.bitwiseXOR(F.col("o_custkey")).alias("key_xor"),
        F.bitwise_not(k).alias("key_not"),
        F.shiftleft(k, 3).alias("key_shl"),
        F.shiftright(k, 2).alias("key_shr"),
    )


@query(
    "func_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS is_finished,
           COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!')
               AS priority_rewrite,
           CASE WHEN o_totalprice IS NULL THEN 'NULL' ELSE 'real' END
               AS price_class
    FROM orders
    """,
    description="Conditional family: iif (SQLite) -> when/otherwise, "
    "ifnull/coalesce, nullif, IS NULL. SURVEY §2.B blob/util row.",
    tags=("functions", "compat"),
)
def func_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias(
            "is_finished"
        ),
        F.ifnull(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")),
            F.lit("URGENT!"),
        ).alias("priority_rewrite"),
        F.when(F.col("o_totalprice").isNull(), "NULL")
        .otherwise("real")
        .alias("price_class"),
    )


@query(
    "func_glob_quote",
    oracle="""
    SELECT p_partkey, p_brand,
           (p_brand LIKE 'Brand#1_' ) AS glob_b1x,
           CASE WHEN p_type IS NULL THEN 'NULL'
                ELSE '''' || REPLACE(p_type, '''', '''''') || '''' END
               AS type_quoted
    FROM part
    WHERE REGEXP_MATCHES(p_brand, '^Brand#[0-9]*$')
    """,
    description="SQLite GLOB (translated to anchored regexp) and quote() "
    "through the dialect layer; REGEXP via rlike (SQLite build has no default REGEXP impl — "
    "we exceed parity, SURVEY §2.B note).",
    tags=("functions", "compat"),
)
def func_glob_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_brand").rlike("^Brand#[0-9]*$")).select(
        "p_partkey",
        "p_brand",
        _sqlite("glob('Brand#1?', p_brand)").alias("glob_b1x"),
        _sqlite("quote(p_type)").alias("type_quoted"),
    )


@query(
    "func_json_modify",
    oracle="""
    SELECT event_id,
           CAST(json_merge_patch(props, '{"new": 1}') AS VARCHAR) AS json_set,
           CAST(json_merge_patch(props, '{"k": null}') AS VARCHAR)
               AS json_remove,
           '{"k":' || CAST(CAST(props->>'k' AS BIGINT) + 1 AS VARCHAR) || '}'
               AS json_replace
    FROM events
    WHERE event_id < 50
    ORDER BY event_id
    """,
    description="SQLite JSON1 modification surface (json_set / "
    "json_remove / json_replace — reference enables JSON1: "
    "pkg/sqlite3/sqlite3.go:22): Spark lacks JSON mutation builtins, so "
    "documents decode to MapType, mutate with map_concat / map_filter / "
    "transform_values (all codegen'd), and re-encode with to_json. "
    "Both engines emit identical compact JSON text.",
    tags=("functions", "json"),
)
def func_json_modify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.to_json(
            F.map_concat(m, F.create_map(F.lit("new"), F.lit(1).cast("bigint")))
        ).alias("json_set"),
        F.to_json(F.map_filter(m, lambda k, v: k != "k")).alias("json_remove"),
        F.to_json(F.transform_values(m, lambda k, v: v + 1)).alias(
            "json_replace"
        ),
    ).orderBy("event_id")


def json_tree_walk(
    df: DataFrame, col: str, id_col: str, max_depth: int = 8
) -> DataFrame:
    """SQLite ``json_tree`` virtual-table analog (SURVEY §2.B JSON1 row;
    ``json_each`` covers one level, this walks the whole tree): emit one
    row per JSON node with (fullkey, key, vtype, atom), recursing through
    objects and arrays to ``max_depth``.

    Implementation: iterative frontier expansion — each level is one
    ``from_json`` + ``explode`` (JVM-side, codegen), levels unioned at
    the end, so the plan is max_depth narrow maps with NO joins or
    shuffles; Catalyst prunes levels that produce nothing. Value typing
    is syntactic (object/array/integer/real/text) since ``map<string,
    string>`` parsing strips string quotes; JSON strings that look
    numeric would classify as numbers — acceptable for typed-schema
    corpora, documented deviation.
    """
    vtype = (
        F.when(F.col("value").rlike(r"^\s*\{"), "object")
        .when(F.col("value").rlike(r"^\s*\["), "array")
        .when(F.col("value").rlike(r"^-?\d+$"), "integer")
        .when(F.col("value").rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$"), "real")
        .otherwise("text")
    )
    frontier = df.select(
        F.col(id_col),
        F.lit("$").alias("fullkey"),
        F.lit(None).cast("string").alias("key"),
        F.col(col).alias("value"),
    )
    levels = []
    for _ in range(max_depth):
        # checkpoint each level (r13): the frontier feeds THREE
        # consumers (the output union, the object branch, the array
        # branch), so without the barrier level k re-derives level
        # k-1's whole parse+explode chain per consumer — a 2^depth
        # lineage blowup (the before plan of func_json_tree held 15
        # scan chains for depth 3). Same per-round barrier as the
        # graph fixpoint loops (plans/recursive.py).
        frontier = frontier.withColumn("vtype", vtype).localCheckpoint(
            eager=True
        )
        levels.append(frontier)
        obj = frontier.filter(F.col("vtype") == "object")
        obj_children = obj.select(
            id_col,
            "fullkey",
            F.explode(F.from_json("value", "map<string,string>")).alias(
                "key", "value"
            ),
        ).select(
            id_col,
            F.concat("fullkey", F.lit("."), "key").alias("fullkey"),
            "key",
            "value",
        )
        arr = frontier.filter(F.col("vtype") == "array")
        arr_children = arr.select(
            id_col,
            "fullkey",
            F.posexplode(F.from_json("value", "array<string>")).alias(
                "pos", "value"
            ),
        ).select(
            id_col,
            F.concat("fullkey", F.lit("["), "pos", F.lit("]")).alias(
                "fullkey"
            ),
            F.col("pos").cast("string").alias("key"),
            "value",
        )
        frontier = obj_children.unionByName(arr_children)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    atom = F.when(
        ~F.col("vtype").isin("object", "array"), F.col("value")
    ).alias("atom")
    return out.select(id_col, "fullkey", "key", "vtype", atom)


@query(
    "func_json_tree",
    oracle="""
    WITH nodes AS (
      SELECT event_id, '$' AS fullkey, CAST(NULL AS VARCHAR) AS key,
             'object' AS vtype, CAST(NULL AS VARCHAR) AS atom FROM events
      UNION ALL
      SELECT event_id, '$.props', 'props', 'object', NULL FROM events
      UNION ALL
      SELECT event_id, '$.props.k', 'k', 'integer',
             json_extract_string(props, '$.k') FROM events
      UNION ALL
      SELECT event_id, '$.type', 'type', 'text', event_type FROM events
    )
    SELECT fullkey, key, vtype, COUNT(*) AS n,
           MIN(atom) AS min_atom, MAX(atom) AS max_atom
    FROM nodes GROUP BY 1, 2, 3
    """,
    description="SQLite json_tree over a nested document built from "
    "events ({props: {...}, type: ...}): full recursive node walk via "
    "iterative explode (json_tree_walk helper, shuffle-free), then a "
    "per-(fullkey, vtype) rollup verifying every node of every row was "
    "visited. Oracle enumerates the expected tree positionally.",
    tags=("functions", "json"),
)
def func_json_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.from_json("props", "map<string,bigint>").alias("props"),
            F.col("event_type").alias("type"),
        )
    )
    nested = e.select("event_id", doc.alias("doc"))
    # materialize the rendered JSON behind an exchange: every walk level
    # re-derives its lineage from here, and the single-row-group fixture
    # scan would otherwise serialize 4 levels x (parse + rlike typing)
    # on one core (measured 3.0 s -> 0.6 s at sf0.1)
    if nested.rdd.getNumPartitions() < 8:
        nested = nested.repartition(spark.sparkContext.defaultParallelism)
    # depth 3 covers this document shape exactly (root -> {props, type}
    # -> props atoms); each extra level costs a full re-derivation of
    # the deepest lineage chain, so don't walk levels that cannot exist
    nodes = json_tree_walk(nested, "doc", "event_id", max_depth=3)
    return nodes.groupBy("fullkey", "key", "vtype").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("atom").alias("min_atom"),
        F.max("atom").alias("max_atom"),
    )


@query(
    "func_jsonb",
    oracle="""
    WITH rows_ AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CAST(json(props) AS VARCHAR) AS canon,
             CAST(json_merge_patch(props, json_object('new', user_id))
                  AS VARCHAR) AS with_new,
             CAST(json_merge_patch(props, '{"k":null}') AS VARCHAR)
                 AS removed,
             CAST(json_merge_patch(props, '{"k": null, "z": 1}')
                  AS VARCHAR) AS patched
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           MIN(canon) AS min_canon,
           MIN(with_new) AS min_with_new,
           MIN(removed) AS min_removed,
           MIN(patched) AS min_patched,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM rows_ GROUP BY event_type
    """,
    description="jsonb_* function family (SQLite >= 3.45; present in "
    "the reference's embedded 3.49.1, whose build enables JSON1 "
    "wholesale — pkg/sqlite3/sqlite3.go:22): jsonb / jsonb_extract / "
    "jsonb_set / jsonb_remove / jsonb_patch accepted as SQL TEXT and "
    "rewritten by the dialect layer (functions/dialect.py "
    "_json_xform) onto Spark's variant kernel — from_json to "
    "map<string,variant> preserves JSON value types end-to-end, "
    "parse_json canonicalizes. This query deliberately goes THROUGH "
    "rewrite_sqlite_functions + spark.sql so the driver gate "
    "exercises the dialect path itself, not a DataFrame twin. "
    "Documented deviations: outputs are TEXT JSON (jsonb is a "
    "storage-format optimization; parquet+variant already fill that "
    "role), canonical key order on round-tripped documents, "
    "modify family at literal top-level paths. Plan: pure per-row "
    "codegen expressions + one group-by — no UDF, no extra "
    "exchange.",
    tags=("functions", "json"),
)
def func_jsonb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.catalog import spread
    # single-file fixture scan = one task; the variant parse work is
    # per-row and embarrassingly parallel — spread() (conditional, a
    # no-op on real multi-split inputs) lets it use the executors
    spread(load(spark, sf_dir, "events")).createOrReplaceTempView(
        "__jsonb_events"
    )
    sqlite_sql = """
    WITH rows_ AS (
      SELECT event_type,
             CAST(jsonb_extract(props, '$.k') AS BIGINT) AS k,
             jsonb(props) AS canon,
             jsonb_set(props, '$.new', user_id) AS with_new,
             jsonb_remove(props, '$.k') AS removed,
             jsonb_patch(props, '{"k": null, "z": 1}') AS patched
      FROM __jsonb_events
    )
    SELECT event_type,
           COUNT(*) AS n,
           MIN(canon) AS min_canon,
           MIN(with_new) AS min_with_new,
           MIN(removed) AS min_removed,
           MIN(patched) AS min_patched,
           SUM(k) AS sum_k
    FROM rows_ GROUP BY event_type
    """
    return spark.sql(rewrite_sqlite_functions(sqlite_sql))

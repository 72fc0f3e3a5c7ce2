"""Unit tests for the SQLite dialect layer (SURVEY §2.B scalar
functions) and the FTS/JSON operators. Value-level SQLite parity of the
scalar surface lives in test_sqlite_parity.SCALAR_PARITY_EXPRS."""

from __future__ import annotations

import datetime as dt
import sqlite3

import pytest
from pyspark.errors import AnalysisException

from litebase_spark.engine import Engine
from litebase_spark.functions.dialect import (
    rewrite_sqlite_functions,
    strftime_format,
)


def test_strftime_format_translation():
    assert strftime_format("%Y-%m-%d") == "yyyy-MM-dd"
    assert strftime_format("%H:%M:%S") == "HH:mm:ss"
    assert strftime_format("year %Y") == "'year 'yyyy"
    with pytest.raises(ValueError):
        strftime_format("%q")


def test_datetime_modifiers(spark):
    """Modifier values are parity rows; here: a modifier chain keeps
    TIMESTAMP under a cast (what func_datetime_modifiers relies on),
    and an unsupported modifier or strftime directive fails loudly
    instead of returning SQLite's NULL or a wrong value."""
    eng = Engine(spark)
    got = eng.sql(
        "SELECT CAST(datetime('2024-01-15 10:30:00', 'start of month', "
        "'+45 minutes') AS TIMESTAMP) AS v"
    ).rows[0].v
    assert got == dt.datetime(2024, 1, 1, 0, 45)
    with pytest.raises(AnalysisException, match="datetime"):
        eng.sql("SELECT datetime('2024-01-15 10:30:00', 'next thursday')")
    with pytest.raises(AnalysisException, match="strftime"):
        eng.sql("SELECT strftime('%q', '2024-01-15')")


def _column_parity(spark, values, ddl, sqlite_type, exprs):
    """Evaluate each SQLite expression over column v through the
    dialect layer and through stdlib sqlite3; return the mismatches."""
    df = spark.createDataFrame([(i, x) for i, x in enumerate(values)],
                               f"i int, v {ddl}")
    con = sqlite3.connect(":memory:")
    con.execute(f"CREATE TABLE t (i INTEGER, v {sqlite_type})")
    con.executemany("INSERT INTO t VALUES (?, ?)", enumerate(values))
    bad = []
    for e in exprs:
        got = [r[1] for r in df.selectExpr(
            "i", rewrite_sqlite_functions(e)).orderBy("i").collect()]
        want = [r[0] for r in con.execute(f"SELECT {e} FROM t ORDER BY i")]
        if got != want:
            bad.append((e, got, want))
    return bad


def test_glob_translation(spark):
    """GLOB over column values, differential against stdlib sqlite3:
    wildcards span newlines, ']' first in a set is a member, ranges,
    negation, and regex metacharacters stay literal."""
    values = ["Brand#12", "Brand#123", "a join b", "bx", "a\nb", "]", "x",
              "a.b", "axb", "-", None]
    exprs = [f"glob('{p}', v)" for p in (
        "Brand#1?", "*join*", "[abc]x", "a*", "a?b", "[]x]", "[^]x]",
        "[a-c]x", "[-a]", "a.b", "*",
    )]
    assert not _column_parity(spark, values, "string", "TEXT", exprs)


def test_iif_ifnull_quote(spark):
    """quote() dispatches on the column's storage class; iif takes any
    condition value, true when non-zero (ifnull is Spark's own builtin,
    covered by the parity rows)."""
    cases = [
        (["it's", "x", None], "string", "TEXT"),
        ([5, -7, None], "bigint", "INTEGER"),
        ([1.5, -0.25, None], "double", "REAL"),
        ([b"\xab\x01", None], "binary", "BLOB"),
    ]
    for values, ddl, sqlite_type in cases:
        exprs = ["quote(v)"]
        if ddl != "binary":  # Spark has no BINARY -> BOOLEAN cast
            exprs.append("iif(v, 'y', 'n')")
        assert not _column_parity(spark, values, ddl, sqlite_type, exprs)


def test_engine_registers_no_temporary_functions(spark):
    """The dialect layer inlines every SQLite function as plain Spark
    SQL, so an Engine adds nothing to the session's function list."""
    def user_functions():
        return {r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()}

    before = user_functions()
    Engine(spark)
    after = user_functions()
    assert after == before
    assert not after & {"iif", "julianday", "unixepoch", "sqlite_quote",
                        "likely", "unlikely", "likelihood"}


def test_fts_match_semantics(spark):
    from litebase_spark.operators.text import fts_match

    docs = spark.createDataFrame(
        [
            (1, "spark query stream fast"),   # must+should hit
            (2, "spark query merge stream"),  # killed by NOT merge
            (3, "spark query table"),         # no should term
            (4, "query vector only"),         # missing must 'spark'
            (5, "Spark, QUERY; vector!"),     # case/punct normalization
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r.n_matched
        for r in fts_match(
            docs,
            must=["spark", "query"],
            should=["stream", "vector"],
            must_not=["merge"],
        ).collect()
    }
    assert got == {1: 3, 5: 3}


def test_fts5_compile_surface(spark):
    """Every FTS5 MATCH construct the compiler claims, against a tiny
    corpus with hand-computed expected hits."""
    from pyspark.sql import functions as F

    from litebase_spark.operators.text import fts5_compile, tokens

    docs = spark.createDataFrame(
        [
            (1, "the big table scan runs fast", "alpha"),
            (2, "big data table", "beta"),          # big..table gap 1
            (3, "table of big sizes", "alpha"),     # reversed order
            (4, "streaming merge of a table", "beta"),
            (5, "Big Table!", "beta"),              # phrase, case/punct
        ],
        "doc_id int, text string, src string",
    )
    cols = {"text": tokens("text"), "src": tokens("src")}

    def hits(match):
        pred = fts5_compile(match, cols, default="text")
        return sorted(
            r.doc_id for r in docs.filter(pred).select("doc_id").collect()
        )

    assert hits('"big table"') == [1, 5]          # phrase adjacency
    assert hits("NEAR(big table, 1)") == [1, 2, 3, 5]  # gap<=1 either order
    assert hits("NEAR(big table, 0)") == [1, 5]  # adjacency only
    assert hits("big NOT merge") == [1, 2, 3, 5]
    assert hits("src : beta AND table") == [2, 4, 5]
    assert hits("^the") == [1]                    # initial token
    assert hits("str*") == [4]                    # prefix
    assert hits("^str* OR scan") == [1, 4]        # initial-prefix + OR
    assert hits("table AND (big OR merge)") == [1, 2, 3, 4, 5]
    assert hits("src:(beta OR alpha) sizes") == [3]  # column group, implicit AND
    # FTS5 default N=10 when omitted
    assert hits("NEAR(big fast)") == [1]


def test_fts5_compile_rejects_garbage(spark):
    import pytest as _pytest

    from litebase_spark.operators.text import fts5_compile, tokens

    cols = {"text": tokens("text")}
    for bad in ("a AND", "(a", 'a ")', "nosuchcol : x", "NEAR(a b c, 2)"):
        with _pytest.raises(ValueError):
            fts5_compile(bad, cols, default="text")


def test_json_tree_walk_nested_arrays(spark):
    from litebase_spark.operators.functions_cov import json_tree_walk

    df = spark.createDataFrame(
        [(1, '{"a": {"b": [10, {"c": "x"}]}, "d": 2.5}')], "id int, j string"
    )
    rows = {
        r.fullkey: (r.vtype, r.atom)
        for r in json_tree_walk(df, "j", "id").collect()
    }
    assert rows["$"] == ("object", None)
    assert rows["$.a"] == ("object", None)
    assert rows["$.a.b"] == ("array", None)
    assert rows["$.a.b[0]"] == ("integer", "10")
    assert rows["$.a.b[1]"] == ("object", None)
    assert rows["$.a.b[1].c"] == ("text", "x")
    assert rows["$.d"] == ("real", "2.5")


def test_fts5_compile_property_vs_reference(spark):
    """Property test: random MATCH expressions over a small grammar must
    agree with a direct Python evaluator on a fixed corpus."""
    import random

    from pyspark.sql import functions as F

    from litebase_spark.operators.text import fts5_compile, tokens

    corpus = [
        (1, "the big table scan runs fast"),
        (2, "big data table big"),
        (3, "table of big sizes"),
        (4, "streaming merge of a table scan"),
        (5, "fast scan big table fast"),
        (6, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id int, text string")
    cols = {"text": tokens("text")}
    toks = {i: t.split() for i, t in corpus}
    vocab = ["big", "table", "scan", "fast", "merge", "sizes"]

    def py_eval(node, words):
        kind = node[0]
        if kind == "term":
            return node[1] in words
        if kind == "prefix":
            return any(w.startswith(node[1]) for w in words)
        if kind == "initial":
            return bool(words) and words[0] == node[1]
        if kind == "phrase":
            ws = node[1]
            return any(
                words[i : i + len(ws)] == ws
                for i in range(len(words) - len(ws) + 1)
            )
        if kind == "near":
            a, b, n = node[1], node[2], node[3]
            pa = [i for i, w in enumerate(words) if w == a]
            pb = [i for i, w in enumerate(words) if w == b]
            return any(abs(p - q) - 1 <= n for p in pa for q in pb)
        if kind == "and":
            return py_eval(node[1], words) and py_eval(node[2], words)
        if kind == "or":
            return py_eval(node[1], words) or py_eval(node[2], words)
        if kind == "not":
            return py_eval(node[1], words) and not py_eval(node[2], words)
        raise AssertionError(kind)

    def gen(rng, depth=0):
        choices = ["term", "prefix", "initial", "phrase", "near"]
        if depth < 2:
            choices += ["and", "or", "not"] * 2
        kind = rng.choice(choices)
        if kind == "term":
            w = rng.choice(vocab)
            return ("term", w), w
        if kind == "prefix":
            w = rng.choice(vocab)
            p = w[: rng.randint(1, len(w))]
            return ("prefix", p), f"{p}*"
        if kind == "initial":
            w = rng.choice(vocab)
            return ("initial", w), f"^{w}"
        if kind == "phrase":
            ws = [rng.choice(vocab) for _ in range(rng.randint(1, 3))]
            return ("phrase", ws), '"' + " ".join(ws) + '"'
        if kind == "near":
            a, b = rng.choice(vocab), rng.choice(vocab)
            n = rng.randint(0, 4)
            return ("near", a, b, n), f"NEAR({a} {b}, {n})"
        l_ast, l_s = gen(rng, depth + 1)
        r_ast, r_s = gen(rng, depth + 1)
        if kind == "and":
            return ("and", l_ast, r_ast), f"({l_s} AND {r_s})"
        if kind == "or":
            return ("or", l_ast, r_ast), f"({l_s} OR {r_s})"
        return ("not", l_ast, r_ast), f"({l_s} NOT {r_s})"

    rng = random.Random(20260814)
    for trial in range(25):
        ast_node, match = gen(rng)
        pred = fts5_compile(match, cols, default="text")
        got = sorted(
            r.doc_id for r in docs.filter(pred).select("doc_id").collect()
        )
        want = sorted(i for i, ws in toks.items() if py_eval(ast_node, ws))
        assert got == want, f"{match!r}: spark={got} py={want}"


def test_int_division_rewrite_left_operand_guard():
    """The DIV rewrite fires only when the leading literal is the true
    left operand: `x / 2 / 3` and `price * 1/2` must stay true division
    (rewriting would truncate a REAL column via left-assoc DIV), while
    literal-only chains fold exactly as SQLite does."""
    from litebase_spark.functions.dialect import (
        rewrite_integer_literal_division as rw,
    )

    # column-headed chains: untouched
    assert rw("SELECT x / 2 / 3") == "SELECT x / 2 / 3"
    assert rw("SELECT price * 1/2") == "SELECT price * 1/2"
    assert rw("SELECT f(x)/2") == "SELECT f(x)/2"
    assert rw("SELECT (x)/2") == "SELECT (x)/2"
    assert rw("SELECT ?/2") == "SELECT ?/2"
    assert rw("SELECT :p/2") == "SELECT :p/2"
    # literal-only chains: every '/' folds, '*'/'%' kept (intermediates
    # stay integral so left-assoc DIV is exact)
    assert rw("SELECT 8/2/2") == "SELECT 8 DIV 2 DIV 2"
    assert rw("SELECT 100*5/2") == "SELECT 100*5 DIV 2"
    assert rw("SELECT 8/2*3/4") == "SELECT 8 DIV 2*3 DIV 4"
    assert rw("SELECT 7%3/2") == "SELECT 7%3 DIV 2"
    # float operand anywhere in the chain disables the fold
    assert rw("SELECT 5*1.5/2") == "SELECT 5*1.5/2"
    assert rw("SELECT 9.0/2/3") == "SELECT 9.0/2/3"
    # keyword-preceded literals are expression heads
    assert rw("WHEN 1/2 THEN 3/4") == "WHEN 1 DIV 2 THEN 3 DIV 4"


def test_rewriters_never_touch_single_quoted_strings(spark):
    """Property: the whole Engine translation (casts, functions, integer
    division, double-quoted identifiers, connection functions)
    preserves every single-quoted string literal byte-for-byte, for
    arbitrary literal content including embedded quotes, slashes,
    digits, double quotes and SQLite call spellings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    eng = Engine(spark)
    content = st.one_of(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="'"
            ),
            max_size=20,
        ),
        st.sampled_from([
            "random()", "changes()", "sqlite_version()", "CAST(1 AS TEXT)",
            "CAST('7x' AS INTEGER)", "glob('a*', x)", "iif(1, 2, 3)",
            "quote(5)", "julianday('2024-01-01')", "7/2", '"col"',
        ]),
    )

    @given(st.lists(content, min_size=1, max_size=4), st.integers(1, 99),
           st.integers(1, 99))
    @settings(max_examples=200, deadline=None)
    def check(lits, a, b):
        # literals interleaved with genuine rewrite targets
        parts = []
        for i, lit in enumerate(lits):
            esc = lit.replace("'", "''")
            parts.append(f"'{esc}'")
            parts.append(f" , {a}/{b} , \"col{i}\" , CAST(c AS TEXT) , "
                         "changes() , random() , ")
        sql = "SELECT " + "".join(parts) + "1"
        out, _ = eng._translate(sql, None)
        # every literal survives untouched
        for lit in lits:
            esc = lit.replace("'", "''")
            assert f"'{esc}'" in out
        # the rewrite targets actually transformed outside strings
        assert f"{a} DIV {b}" in out
        assert "`col0`" in out and '"col0"' not in out
        assert "CAST(c AS STRING)" in out and " changes()" not in out
        assert "rand()" in out

    check()


def test_json_tree_walk_bottoms_out_at_max_depth(spark, sf_dir):
    """func_json_tree walks to max_depth=3, justified by 'deeper nodes
    cannot exist' in the current fixture document shape. Guard that
    claim: no node at the deepest visited level may be a container —
    if the fixture generator ever deepens the props envelope, this
    fails loudly instead of depth-4 nodes silently vanishing."""
    from pyspark.sql import functions as F

    from litebase_spark.catalog import load
    from litebase_spark.operators.functions_cov import json_tree_walk

    e = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.from_json("props", "map<string,bigint>").alias("props"),
            F.col("event_type").alias("type"),
        )
    )
    nested = e.select("event_id", doc.alias("doc"))
    nodes = json_tree_walk(nested, "doc", "event_id", max_depth=3)
    # depth = number of path separators in fullkey ('$'=0, '$.a'=1, ...)
    depth = (
        F.length(F.regexp_replace("fullkey", r"[^.\[]", ""))
    )
    deepest_containers = (
        nodes.withColumn("depth", depth)
        .filter((F.col("depth") == 2) & F.col("vtype").isin("object", "array"))
        .count()
    )
    assert deepest_containers == 0, (
        "fixture documents now nest deeper than func_json_tree's "
        "max_depth=3 walk — raise max_depth"
    )
    # sanity: the walk did reach depth 2 (props atoms)
    assert nodes.withColumn("depth", depth).filter(
        F.col("depth") == 2
    ).count() > 0

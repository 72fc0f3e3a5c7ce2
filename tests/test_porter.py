"""Differential test: the staged SQL Porter stemmer vs Python
sqlite3's FTS5 `porter` tokenizer — the reference's exact stemming
semantics (pkg/sqlite3/sqlite3.go:20 enables FTS5; its porter
tokenizer is the classic Porter algorithm)."""

from __future__ import annotations

import sqlite3

import pytest

# a vocabulary that exercises every Porter step: plurals, ed/ing with
# fixups, y->i, the step-2/3/4 suffix tables, final-e, ll, plus the
# guard edges (short, long, non-alpha) and the 31-word fixture vocab
WORDS = [
    # fixture vocabulary (tools: the corpus the oracle runs on)
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
    # step 1a
    "caresses", "ponies", "ties", "caress", "cats",
    # step 1b + fixups
    "feed", "agreed", "plastered", "bled", "motoring", "sing",
    "conflated", "troubled", "sized", "hopping", "tanned", "falling",
    "hissing", "fizzed", "failing", "filing",
    # step 1c
    "happy", "sky", "crying", "flies",
    # step 2
    "relational", "conditional", "rational", "valenci", "hesitanci",
    "digitizer", "conformabli", "radicalli", "differentli", "vileli",
    "analogousli", "vietnamization", "predication", "operator",
    "feudalism", "decisiveness", "hopefulness", "callousness",
    "formaliti", "sensitiviti", "sensibiliti",
    # step 3
    "triplicate", "formative", "formalize", "electriciti", "electrical",
    "hopeful", "goodness",
    # step 4
    "revival", "allowance", "inference", "airliner", "gyroscopic",
    "adjustable", "defensible", "irritant", "replacement", "adjustment",
    "dependent", "adoption", "homologou", "communism", "activate",
    "angulariti", "homologous", "effective", "bowdlerize",
    # step 5
    "probate", "rate", "cease", "controll", "roll",
    # inflection sweeps over common verbs
    "running", "runner", "runs", "ran", "easily", "early", "only",
    "singly", "possibly", "quickly", "national", "nationally",
    "generalization", "generalizations", "oscillators", "oscillation",
    "organization", "organizer", "organized", "organizing",
    "maximize", "maximizer", "minimized", "utilities", "utilizing",
    "abilities", "ability", "abilty", "querying", "queries", "queried",
    "tables", "tabled", "tabling", "joined", "joining", "joins",
    "sorted", "sorting", "sorts", "merged", "merging", "merges",
    "streamed", "streaming", "streams", "valued", "valuing", "values",
    "hashing", "hashed", "hashes", "filtered", "filtering", "filters",
    "windows", "windowed", "scanned", "scanning", "scans", "ordered",
    "ordering", "orders", "grouped", "grouping", "groups", "keyed",
    "parts", "parted", "parting", "lines", "lined", "lining",
    "batches", "batched", "batching", "vectors", "vectorized",
    "columns", "columnar", "customers", "sparks", "sparked",
    # guard edges: FTS5 stems 3..64-char alnum tokens, digits are
    # consonants; >64 passes through
    "ab", "x", "42", "111", "data123", "s1s", "x1ies", "abc1ing",
    "ba" + "b" * 59 + "ing",   # 64 chars: stemmed
    "ba" + "b" * 60 + "ing",   # 65 chars: passthrough
    # FTS5's stem-non-empty fall-through (departures from the
    # published longest-match-then-stop reading)
    "eed", "eeed", "feed", "sses", "ies", "aes", "ees", "ated",
    "ating", "bled", "izes", "aed", "oed", "ional", "tional",
    # tricky y handling (incl. yy as a double consonant)
    "syzygy", "yes", "dying", "tying", "saying", "stays", "staying",
    "enjoy", "enjoyed", "enjoying", "employ", "employed", "employee",
    "employees", "ying", "yly", "eying", "ayyed", "ayying", "yyed",
    "yying", "yyyyying",
]


def _fuzz_words(seed: int, n: int) -> list[str]:
    import random

    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randint(1, 70)
        out.append("".join(
            rng.choice("aeiouy0123bcdslrtz") for _ in range(k)
        ))
    sufs = ["s", "es", "ies", "sses", "ed", "ing", "eed", "ll", "e",
            "y", "ation", "iveness", "biliti", "ement", "ly"]
    for w in list(out[: n // 2]):
        out.append(w + rng.choice(sufs))
    return sorted(set(out))


def sqlite_porter(words: list[str]) -> dict[str, str]:
    """Stem each word with sqlite's FTS5 porter tokenizer: one doc per
    word, read the (term, doc) pairs back via fts5vocab 'instance'."""
    con = sqlite3.connect(":memory:")
    con.execute(
        "CREATE VIRTUAL TABLE t USING fts5(x, tokenize='porter ascii')"
    )
    for i, w in enumerate(words):
        con.execute("INSERT INTO t(rowid, x) VALUES (?, ?)", (i, w))
    con.execute("CREATE VIRTUAL TABLE tv USING fts5vocab(t, 'instance')")
    out: dict[str, str] = {}
    for term, doc in con.execute("SELECT term, doc FROM tv"):
        out[words[doc]] = term
    return out


@pytest.fixture(scope="module")
def truth():
    # tokens that FTS5's tokenizer would itself split (non-alnum) are
    # exercised separately; keep only single-token inputs here
    words = [w for w in WORDS if w.replace("_", "").isalnum()
             and "_" not in w]
    return words, sqlite_porter(words)


def test_spark_porter_matches_sqlite_fts5(spark, truth):
    from litebase_spark.functions.porter import with_porter_stem

    words, expect = truth
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    got = {r["tok"]: r["stem"]
           for r in with_porter_stem(df, "tok").collect()}
    bad = {w: (got[w], expect[w]) for w in words if got[w] != expect[w]}
    assert not bad, f"{len(bad)} mismatches: {dict(list(bad.items())[:10])}"


def test_duckdb_porter_matches_sqlite_fts5(truth):
    """The oracle-side CTE chain produces the identical stems (the
    same stage strings — this pins the dialect-neutrality claim)."""
    import duckdb

    from litebase_spark.functions.porter import porter_duckdb_cte

    words, expect = truth
    con = duckdb.connect()
    con.execute("CREATE TABLE w (tok TEXT)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    sql = porter_duckdb_cte("SELECT tok FROM w")
    got = dict(con.execute(f"SELECT tok, stem FROM ({sql})").fetchall())
    bad = {w: (got[w], expect[w]) for w in words if got[w] != expect[w]}
    assert not bad, f"{len(bad)} mismatches: {dict(list(bad.items())[:10])}"


def test_fuzz_porter_vs_sqlite_fts5():
    """Seeded 3000-word fuzz (vowel/y/digit-heavy charset + stacked
    suffixes) through the DuckDB rendering vs sqlite ground truth —
    the wide-net guard behind the curated list above."""
    import duckdb

    from litebase_spark.functions.porter import porter_duckdb_cte

    words = _fuzz_words(29, 2000)
    expect = sqlite_porter(words)
    con = duckdb.connect()
    con.execute("CREATE TABLE w (tok TEXT)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    sql = porter_duckdb_cte("SELECT tok FROM w")
    got = dict(con.execute(f"SELECT tok, stem FROM ({sql})").fetchall())
    bad = {w: (got[w], expect[w]) for w in words
           if w in expect and got[w] != expect[w]}
    assert not bad, f"{len(bad)} mismatches: {dict(list(bad.items())[:10])}"


def test_query_term_stemming_twin(truth):
    from litebase_spark.functions.porter import porter_stem_py

    _, expect = truth
    for w in ("querying", "tables", "merges", "valued"):
        assert porter_stem_py(w) == expect[w]


def test_fts_match_porter_mode(spark):
    """tokenize='porter': morphological variants match and surface
    forms of one stem count once in n_matched."""
    from litebase_spark.operators.text import fts_match

    docs = spark.createDataFrame(
        [
            (1, "querying the tables of valued customers"),
            (2, "query a table of values"),      # other surface forms
            (3, "query stream merge of tables"),  # must_not: merge
            (4, "tables and values only"),        # missing must term
            (5, "queries querying queried"),      # 3 forms, 1 stem
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_matched"] for r in fts_match(
        docs,
        must=["querying"],
        should=["tables", "valued"],
        must_not=["merges"],
        tokenize="porter",
    ).collect()}
    # doc 1: queri + tabl + valu = 3; doc 2: same stems = 3;
    # doc 3 killed by merg; doc 4 lacks queri; doc 5 has queri only
    # but no should-term -> filtered out
    assert out == {1: 3, 2: 3}


def test_fts_match_rejects_unknown_tokenizer(spark):
    from litebase_spark.operators.text import fts_match

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unsupported tokenize"):
        fts_match(docs, must=["x"], tokenize="porter2")


def test_fts_vocab_porter_semantics(spark, tmp_path, monkeypatch):
    """fts5vocab('row') analog: n_docs counts a stem once per doc even
    when multiple surface forms appear; n_occurrences sums them."""
    import os

    from litebase_spark.operators.text import fts_vocab_porter

    docs = [
        (1, "query queries querying", "en", "s0", 23),
        (2, "query table", "en", "s0", 11),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    rows = {r["term"]: (r["n_docs"], r["n_occurrences"])
            for r in fts_vocab_porter(spark, str(tmp_path)).collect()}
    assert rows["queri"] == (2, 4)   # 3 forms in doc 1 + 1 in doc 2
    assert rows["tabl"] == (1, 1)


def test_porter_stem_preserves_first_char():
    """r13: fts_match's porter path prunes the vocabulary to query-stem
    first letters BEFORE the stage chain — sound only if no Porter rule
    ever rewrites a word's first character. Pin it over the same fuzz
    corpus (suffix-heavy, vowel/y/digit charset) plus the curated list."""
    import duckdb

    from litebase_spark.functions.porter import porter_duckdb_cte

    words = [w for w in _fuzz_words(31, 2000) if w]
    con = duckdb.connect()
    con.execute("CREATE TABLE w (tok TEXT)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    sql = porter_duckdb_cte("SELECT tok FROM w")
    bad = con.execute(
        f"SELECT tok, stem FROM ({sql}) "
        "WHERE stem IS NULL OR stem = '' OR substr(stem, 1, 1) <> substr(tok, 1, 1)"
    ).fetchall()
    assert not bad, f"first char changed: {bad[:10]}"

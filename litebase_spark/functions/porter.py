"""Porter stemmer as a dialect-neutral SQL stage chain.

The reference's FTS5 build ships the porter tokenizer
(pkg/sqlite3/sqlite3.go:20 — SQLITE_ENABLE_FTS5; FTS5's `porter`
tokenizer wraps unicode61 with the classic Porter (1980) stemmer,
ext/fts5/fts5_tokenize.c). This module re-expresses that algorithm as
a sequence of pure-SQL column stages valid in BOTH Spark SQL and
DuckDB — the same strings compile into the Spark plan (F.expr, fully
whole-stage-codegen, zero UDFs) and into the oracle's CTE chain, so
the two engines cannot diverge by construction. Ground truth is
pinned independently: tests/test_porter.py differential-tests the
Spark output against Python sqlite3's actual FTS5 porter tokenizer
over a broad vocabulary.

Design notes for scale: stemming is a per-row expression (~150 string
primitives, all JVM codegen) — it runs scan-side with no shuffle and
composes with posting-list pruning, so a porter MATCH costs the same
shuffle shape as the unstemmed one.

Algorithm notes (classic Porter, following SQLite's implementation):
- A word's consonant/vowel skeleton is computed via regexp passes:
  true vowels -> 'a', everything else -> 'c', then word-initial y is
  a consonant and a y after a vowel/consonant alternates (resolved in
  bounded literal-replace passes; y-runs deeper than 5 are out of any
  real vocabulary).
- measure m>0  <=>  skeleton prefix contains 'ac'
  measure m>1  <=>  skeleton prefix contains 'ac' twice ('%ac%ac%')
  *v*          <=>  skeleton prefix contains 'a'
  *o           <=>  skeleton ends 'cac' and last letter not in w,x,y
  (LIKE-only tests — no regex in any per-suffix condition).
- FTS5 stems tokens of 3..64 chars, digits included (classified as
  consonants); shorter or longer tokens pass through unchanged.
- FTS5's per-suffix matching requires a NON-EMPTY stem and falls
  through to shorter suffixes when that guard fails ('eed' -> 'e',
  'sses' -> 'sse') — a documented departure from the published
  longest-match-then-stop reading, pinned by probes in the tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# skeleton: consonant/vowel form of a word ('c' / 'a' chars)
# ---------------------------------------------------------------------------


_CONS = "bcdfghjklmnpqrstvwxz"


def _skel(x: str) -> str:
    """SQL expression: CV skeleton of `x` (a column/expr string).
    translate()/replace() only — both are GLOBAL in Spark and DuckDB
    (DuckDB's regexp_replace is first-match-only, so no regex here)."""
    t = f"translate({x}, 'eiou', 'aaaa')"
    # digits classify as consonants (FTS5 stems alnum tokens whole)
    t = (
        f"translate({t}, '{_CONS}0123456789', "
        f"'{'c' * (len(_CONS) + 10)}')"
    )
    t = f"(CASE WHEN {t} LIKE 'y%' THEN 'c' || substr({t}, 2) ELSE {t} END)"
    # resolve y-runs left-to-right: y after vowel -> consonant,
    # y after consonant -> vowel; each pass settles one y per run
    for _ in range(5):
        t = f"replace({t}, 'ay', 'ac')"
        t = f"replace({t}, 'cy', 'ca')"
    return t


def _m_gt0(k: str, ln: str) -> str:
    return f"substr({k}, 1, {ln}) LIKE '%ac%'"


def _m_gt1(k: str, ln: str) -> str:
    return f"substr({k}, 1, {ln}) LIKE '%ac%ac%'"


def _has_vowel(k: str, ln: str) -> str:
    return f"substr({k}, 1, {ln}) LIKE '%a%'"


def _o_cond(w: str, k: str, ln: str) -> str:
    """*o: stem ends consonant-vowel-consonant, final not w/x/y."""
    return (
        f"({ln} >= 3 AND substr({k}, {ln} - 2, 3) = 'cac' "
        f"AND substr({w}, {ln}, 1) NOT IN ('w', 'x', 'y'))"
    )


# double consonant endings, excluding l/s/z (step 1b) and vowels;
# FTS5's check is char-identity + not-a-vowel, so 'yy' and digit
# pairs count as doubles too (pinned: 'ayyed' -> 'ai')
_DOUBLES_NOT_LSZ = [
    c + c for c in "bcdfghjkmnpqrtvwxy0123456789"
]


def _skel_lit(s: str) -> str:
    """Skeleton of a REPLACEMENT literal: context-free because no
    Porter replacement contains 'y' (asserted by porter_stages), so a
    char is 'a' iff it is a true vowel."""
    assert "y" not in s
    return "".join("a" if c in "aeiou" else "c" for c in s)


def _suffix_case(w: str, k: str, rules: list[tuple[str, str, str]]) -> str:
    """CASE over (suffix, replacement, cond) rules: longest matching
    suffix wins; if its condition fails the step is a no-op (Porter's
    longest-match-then-condition semantics — no fallthrough). `cond`
    is one of 'm>0', 'm>1', 'm>1st' (m>1 and stem ends s/t).

    Emits the fused 'word|skeleton' encoding (r14): every rule keeps a
    prefix of the input word and appends a LITERAL suffix, and the
    skeleton is prefix-stable (each char's class depends only on chars
    to its left), so the output skeleton is substr(k, 1, ln) plus the
    literal's context-free skeleton — no full skeleton recomputation.
    The pair travels as one string ('|' cannot occur in a token or a
    skeleton) and the caller splits it, keeping every stage expression
    dialect-neutral (Spark SQL and DuckDB both parse || / substr /
    position(.. IN ..))."""
    arms = []
    for s1, s2, cond in sorted(rules, key=lambda r: -len(r[0])):
        ln = f"length({w}) - {len(s1)}"
        if cond == "m>0":
            c = _m_gt0(k, ln)
        elif cond == "m>1":
            c = _m_gt1(k, ln)
        elif cond == "m>1st":
            c = (
                f"({_m_gt1(k, ln)} AND "
                f"substr({w}, {ln}, 1) IN ('s', 't'))"
            )
        else:  # pragma: no cover
            raise ValueError(cond)
        rep = f"substr({w}, 1, {ln}) || '{s2}'" if s2 else f"substr({w}, 1, {ln})"
        repk = (
            f"substr({k}, 1, {ln}) || '{_skel_lit(s2)}'"
            if s2
            else f"substr({k}, 1, {ln})"
        )
        # FTS5 semantics: a suffix only MATCHES when the stem is
        # non-empty (length > len(suffix)); a guard-failed longest
        # suffix FALLS THROUGH to shorter ones (unlike the published
        # algorithm's stop — pinned by the 'eed' -> 'e' probe)
        arms.append(
            f"WHEN {w} LIKE '%{s1}' AND length({w}) > {len(s1)} THEN "
            f"CASE WHEN {c} THEN {rep} || '|' || {repk} "
            f"ELSE {w} || '|' || {k} END"
        )
    return "CASE " + " ".join(arms) + f" ELSE {w} || '|' || {k} END"


def _split_wk(col: str) -> tuple[str, str]:
    """Split a fused 'word|skeleton' column back into its halves."""
    return (
        f"substr({col}, 1, position('|' IN {col}) - 1)",
        f"substr({col}, position('|' IN {col}) + 1)",
    )


_STEP2 = [
    ("ational", "ate", "m>0"), ("tional", "tion", "m>0"),
    ("enci", "ence", "m>0"), ("anci", "ance", "m>0"),
    ("izer", "ize", "m>0"), ("logi", "log", "m>0"),
    ("bli", "ble", "m>0"), ("alli", "al", "m>0"),
    ("entli", "ent", "m>0"), ("eli", "e", "m>0"),
    ("ousli", "ous", "m>0"), ("ization", "ize", "m>0"),
    ("ation", "ate", "m>0"), ("ator", "ate", "m>0"),
    ("alism", "al", "m>0"), ("iveness", "ive", "m>0"),
    ("fulness", "ful", "m>0"), ("ousness", "ous", "m>0"),
    ("aliti", "al", "m>0"), ("iviti", "ive", "m>0"),
    ("biliti", "ble", "m>0"),
]

_STEP3 = [
    ("icate", "ic", "m>0"), ("ative", "", "m>0"),
    ("alize", "al", "m>0"), ("iciti", "ic", "m>0"),
    ("ical", "ic", "m>0"), ("ful", "", "m>0"),
    ("ness", "", "m>0"),
]

_STEP4 = [
    ("al", "", "m>1"), ("ance", "", "m>1"), ("ence", "", "m>1"),
    ("er", "", "m>1"), ("ic", "", "m>1"), ("able", "", "m>1"),
    ("ible", "", "m>1"), ("ant", "", "m>1"), ("ement", "", "m>1"),
    ("ment", "", "m>1"), ("ent", "", "m>1"), ("ion", "", "m>1st"),
    ("ou", "", "m>1"), ("ism", "", "m>1"), ("ate", "", "m>1"),
    ("iti", "", "m>1"), ("ous", "", "m>1"), ("ive", "", "m>1"),
    ("ize", "", "m>1"),
]


def porter_stages(w_in: str = "tok") -> list[tuple[str, str]]:
    """The staged Porter pipeline: ordered (column_name, sql_expr)
    pairs, each expr referencing only `w_in` and earlier columns.
    Dialect-neutral SQL — feed to Spark withColumn(F.expr(...)) or a
    DuckDB chained-CTE projection identically.

    r14: the CV skeleton is computed from scratch ONCE (k0); every
    later k* derives incrementally. This is sound because the skeleton
    is PREFIX-STABLE — a char's class ('a'/'c') depends only on chars
    to its LEFT (true vowels are position-free; word-initial y and the
    y-after-vowel/consonant alternation resolve left to right) — and
    every Porter step either keeps the word, truncates it (skeleton =
    prefix of the old skeleton), or appends a y-free LITERAL (skeleton
    = old prefix + the literal's context-free skeleton). The r13 chain
    recomputed the 13-string-pass _skel 8 times per word; this chain
    pays it once (x100m 18.4M-term vocabulary: ~36 s -> measured in
    OPTIMIZATION_r14.md), bit-identical output pinned by the FTS5
    differential test."""
    st: list[tuple[str, str]] = []
    st.append(("k0", _skel(w_in)))

    # step 1a — plural stripping (no measure conditions; the length
    # guards are FTS5's stem-non-empty matching, e.g. the word 'sses'
    # itself falls through to the bare-s rule -> 'sse'). Truncation
    # only -> skeleton is the matching prefix of k0.
    st.append(("p1a", f"""CASE
      WHEN {w_in} LIKE '%sses' AND length({w_in}) > 4
        THEN substr({w_in}, 1, length({w_in}) - 2)
      WHEN {w_in} LIKE '%ies' AND length({w_in}) > 3
        THEN substr({w_in}, 1, length({w_in}) - 2)
      WHEN {w_in} LIKE '%ss' THEN {w_in}
      WHEN {w_in} LIKE '%s' AND length({w_in}) > 1
        THEN substr({w_in}, 1, length({w_in}) - 1)
      ELSE {w_in} END"""))
    st.append(("k1a", "substr(k0, 1, length(p1a))"))

    # step 1b — eed / ed / ing (guard-failed 'eed' falls through to
    # 'ed': FTS5 stems the word 'eed' itself to 'e')
    st.append(("p1b", f"""CASE
      WHEN p1a LIKE '%eed' AND length(p1a) > 3 THEN
        CASE WHEN {_m_gt0('k1a', 'length(p1a) - 3')}
             THEN substr(p1a, 1, length(p1a) - 1) ELSE p1a END
      WHEN p1a LIKE '%ed' AND length(p1a) > 2
           AND {_has_vowel('k1a', 'length(p1a) - 2')}
        THEN substr(p1a, 1, length(p1a) - 2)
      WHEN p1a LIKE '%ing' AND length(p1a) > 3
           AND {_has_vowel('k1a', 'length(p1a) - 3')}
        THEN substr(p1a, 1, length(p1a) - 3)
      ELSE p1a END"""))
    st.append(("f1b", """CASE
      WHEN p1a LIKE '%eed' AND length(p1a) > 3 THEN 0
      WHEN p1b <> p1a THEN 1
      ELSE 0 END"""))
    # 1b only truncates -> prefix of k1a
    st.append(("k1b", "substr(k1a, 1, length(p1b))"))

    # step 1b fixups (only when ed/ing was stripped)
    doubles = ", ".join(f"'{d}'" for d in _DOUBLES_NOT_LSZ)
    st.append(("p1f", f"""CASE
      WHEN f1b = 0 THEN p1b
      WHEN (p1b LIKE '%at' OR p1b LIKE '%bl' OR p1b LIKE '%iz')
           AND length(p1b) > 2
        THEN p1b || 'e'
      WHEN substr(p1b, length(p1b) - 1, 2) IN ({doubles})
        THEN substr(p1b, 1, length(p1b) - 1)
      WHEN {_m_gt0('k1b', 'length(p1b)')}
           AND NOT {_m_gt1('k1b', 'length(p1b)')}
           AND {_o_cond('p1b', 'k1b', 'length(p1b)')}
        THEN p1b || 'e'
      ELSE p1b END"""))
    # 1b-fixup arms: identity (equal length), append 'e' (longer by
    # exactly 1; 'e' is a true vowel -> 'a'), or truncate 1 (prefix) —
    # derivable from the LENGTH delta alone
    st.append(("k1f", """CASE
      WHEN length(p1f) = length(p1b) THEN k1b
      WHEN length(p1f) = length(p1b) + 1 THEN k1b || 'a'
      ELSE substr(k1b, 1, length(p1f)) END"""))

    # step 1c — y -> i when the stem has a vowel
    st.append(("p1c", f"""CASE
      WHEN p1f LIKE '%y' AND length(p1f) > 1
           AND {_has_vowel('k1f', 'length(p1f) - 1')}
        THEN substr(p1f, 1, length(p1f) - 1) || 'i'
      ELSE p1f END"""))
    # 1c replaces a final y with i ('i' is a true vowel -> 'a');
    # length is unchanged, so fire iff the word changed
    st.append(("k1c", """CASE
      WHEN p1c <> p1f
        THEN substr(k1f, 1, length(p1c) - 1) || 'a'
      ELSE k1f END"""))

    w2, k2 = _split_wk("p2wk")
    st.append(("p2wk", _suffix_case("p1c", "k1c", _STEP2)))
    st.append(("p2", w2))
    st.append(("k2", k2))
    w3, k3 = _split_wk("p3wk")
    st.append(("p3wk", _suffix_case("p2", "k2", _STEP3)))
    st.append(("p3", w3))
    st.append(("k3", k3))
    w4, k4 = _split_wk("p4wk")
    st.append(("p4wk", _suffix_case("p3", "k3", _STEP4)))
    st.append(("p4", w4))
    st.append(("k4", k4))

    # step 5a — final e
    st.append(("p5a", f"""CASE
      WHEN p4 LIKE '%e' AND length(p4) > 1
           AND {_m_gt1('k4', 'length(p4) - 1')}
        THEN substr(p4, 1, length(p4) - 1)
      WHEN p4 LIKE '%e' AND length(p4) > 1
           AND {_m_gt0('k4', 'length(p4) - 1')}
           AND NOT {_m_gt1('k4', 'length(p4) - 1')}
           AND NOT {_o_cond('p4', 'k4', 'length(p4) - 1')}
        THEN substr(p4, 1, length(p4) - 1)
      ELSE p4 END"""))
    # 5a only strips a final e -> prefix of k4
    st.append(("k5a", "substr(k4, 1, length(p5a))"))

    # step 5b — ll -> l when m > 1
    st.append(("p5b", f"""CASE
      WHEN p5a LIKE '%ll' AND length(p5a) > 2
           AND {_m_gt1('k5a', 'length(p5a)')}
        THEN substr(p5a, 1, length(p5a) - 1)
      ELSE p5a END"""))

    # FTS5's guard: tokens of 3..64 chars are stemmed (aBuf[64]);
    # shorter/longer pass through. Our tokenizer emits [a-z0-9]+ only;
    # anything else (defensive) passes through too.
    st.append(("stem", f"""CASE
      WHEN length({w_in}) > 2 AND length({w_in}) <= 64
           AND length(translate({w_in},
                 'abcdefghijklmnopqrstuvwxyz0123456789', '')) = 0
        THEN p5b
      ELSE {w_in} END"""))
    return st


_WORK_COLS = [n for n, _ in porter_stages() if n != "stem"]


def with_porter_stem(
    df: DataFrame,
    token_col: str,
    out_col: str = "stem",
) -> DataFrame:
    """Append `out_col` = porter_stem(token_col) via the staged
    pipeline; intermediate work columns are dropped. Pure Catalyst
    expressions — whole-stage codegen, no UDF.

    No materialization barrier (r13): since SPARK-36718,
    CollapseProject refuses to inline a non-cheap producer expression
    referenced more than once — exactly this chain's shape (every
    stage's CASE reads the previous p/k columns many times) — so the
    19 stacked Projects survive optimization intact and whole-stage
    codegen evaluates each stage ONCE into a local variable: a
    single-pass chain, zero intermediate materializations. Measured
    on the ×100-mutated 18.4M-term vocabulary: plan compile 3.0 s
    flat, chain 42.8 s, vs 211 s for the r12 eager-localCheckpoint
    barriers (9 serial jobs round-tripping the vocabulary through the
    block manager); outputs bit-identical over the full sf0.01
    vocabulary.

    Intended for VOCABULARY-sized inputs (distinct terms); for
    corpus-scale postings use stem_vocabulary + a broadcast join of
    the term -> stem map instead of stemming every posting row."""
    for name, expr in porter_stages(token_col):
        df = df.withColumn(name if name != "stem" else out_col,
                           F.expr(expr))
    return df.drop(*_WORK_COLS)


def stem_vocabulary(
    vocab: DataFrame,
    token_col: str = "term",
    out_col: str = "stem",
) -> DataFrame:
    """term -> stem map over a distinct-vocabulary DataFrame. The
    100 TB path: the vocabulary is orders of magnitude smaller than
    the postings, so the staged stemmer runs once over it and the
    (pruned) map joins back onto postings — stemming never touches
    corpus-sized data.

    The chain runs UNBARRIERED (with_porter_stem default, r13), then
    the FINAL map gets one eager localCheckpoint: a vocabulary-sized
    (term, stem) table is exactly the bounded-intermediate class the
    materialization law allows, and the barrier is load-bearing two
    ways beyond the usual lineage cap: (a) AQE reads the map's true
    built size for its broadcast-vs-shuffle join decision, and (b) it
    stops downstream predicate pushdown from substituting the stem
    alias into filter conditions through the 19 stacked chain
    Projects — PushPredicateThroughNonJoin has no SPARK-36718-style
    cost guard, so a .filter(stem.isin(...)) above the lazy chain
    inlines the whole chain into the condition once per level and
    blows up the optimizer (measured: minutes at sf0.01 on
    fts_match_porter before the barrier was restored)."""
    out = with_porter_stem(
        vocab.select(token_col).distinct(), token_col, out_col
    )
    return out.localCheckpoint(eager=True)


def porter_stem_py(word: str) -> str:
    """Driver-side twin for stemming QUERY terms (a handful per MATCH
    call — never data). Evaluates the same stage chain via DuckDB;
    kept in one place so query-side and corpus-side stemming can
    never diverge."""
    import duckdb

    con = duckdb.connect()
    # bound parameter, not an f-string literal: a query term containing
    # a quote must reach the stemmer as data, never as SQL
    sql = porter_duckdb_cte("SELECT lower(?) AS tok", "tok")
    return con.execute(
        f"SELECT stem FROM ({sql})", [word]
    ).fetchone()[0]


def porter_duckdb_cte(inner: str, token_col: str = "tok") -> str:
    """Wrap `inner` (a query exposing `token_col`) in the staged
    Porter CTE chain, yielding the same rows plus a `stem` column —
    the oracle-side twin of with_porter_stem. Each stage is a
    MATERIALIZED CTE: DuckDB inlines plain subqueries, and with every
    stage referencing its input many times the inlined tree grows
    exponentially (the same CollapseProject blow-up the Spark side
    caps with checkpoint barriers) — MATERIALIZED is the oracle-side
    barrier."""
    parts = [f"__p0 AS MATERIALIZED ({inner})"]
    prev = "__p0"
    for i, (name, expr) in enumerate(porter_stages(token_col), 1):
        parts.append(
            f"__p{i} AS MATERIALIZED "
            f"(SELECT *, {expr} AS {name} FROM {prev})"
        )
        prev = f"__p{i}"
    work = ", ".join(_WORK_COLS)
    return (
        "WITH " + ",\n".join(parts)
        + f" SELECT * EXCLUDE ({work}) FROM {prev}"
    )

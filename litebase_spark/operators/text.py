"""Text-analysis operators over the documents table.

Covers (a) the FTS5 analog the reference exposes through SQLite's FTS5
build flag (bm25()/highlight()/snippet() — reference:
pkg/sqlite3/sqlite3.go:20), re-expressed as DataFrame pipelines over an
inverted-index shape, and (b) the LLM-pipeline text ops from the north
star: token counting, quality scoring, language ID, fingerprinting.

Everything is built from JVM-side builtins (split/transform/filter/
aggregate) — no Python UDFs — so it stays inside codegen and scales
linearly: each op is a narrow map over documents plus at most one
aggregation keyed by term or language.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from litebase_spark.catalog import load, query, spread
from litebase_spark.functions.portable import (
    h60_duck as _h60_duck,
    h60_spark as _h60_spark,
)

# Tokenizer shared by all text ops: lowercase, split on non-alphanumeric
# runs, drop empties. Same regex on the DuckDB side.
_TOKEN_RE = "[^a-z0-9]+"


def tokens(col) -> F.Column:
    c = col if not isinstance(col, str) else F.col(col)
    return F.filter(
        F.split(F.lower(c), _TOKEN_RE), lambda w: F.length(w) > 0
    )


_SQL_TOKENS = (
    "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'),"
    " w -> length(w) > 0)"
)


@query(
    "text_token_count",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_SQL_TOKENS.format(c='text')})) AS BIGINT)
               AS total_tokens,
           CAST(MIN(len({_SQL_TOKENS.format(c='text')})) AS BIGINT)
               AS min_tokens,
           CAST(MAX(len({_SQL_TOKENS.format(c='text')})) AS BIGINT)
               AS max_tokens
    FROM documents GROUP BY lang
    """,
    description="Token counting per document, aggregated per language "
    "(north-star text analysis). Whitespace/punct regex tokenizer, "
    "JVM-side split.",
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = F.size(tokens("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).alias("total_tokens"),
        F.min(n).cast("bigint").alias("min_tokens"),
        F.max(n).cast("bigint").alias("max_tokens"),
    )


_STOPWORDS = (
    "the a an and or of to in is are was for on with as by at this that".split()
)


@query(
    "text_quality_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, n_chars,
               {_SQL_TOKENS.format(c='text')} AS words,
               length(text) AS text_len,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           len(words) AS n_tokens,
           ROUND(CAST(text_len AS DOUBLE) / len(words), 6) AS avg_token_span,
           ROUND(CAST(len(list_filter(words,
                 w -> list_contains({_STOPWORDS!r}, w))) AS DOUBLE)
                 / len(words), 6) AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / text_len, 6) AS punct_ratio,
           ROUND(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6)
               AS distinct_ratio
    FROM tok WHERE len(words) > 0
    """,
    description="Document quality scoring: token count, stopword ratio, "
    "punctuation ratio, lexical diversity (north-star text analysis; "
    "the usual heuristics-pipeline pre-filter for LLM training data).",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    words = tokens("text")
    stop_lit = F.array(*[F.lit(w) for w in _STOPWORDS])
    d = d.select(
        "doc_id",
        words.alias("words"),
        F.length("text").alias("text_len"),
        F.length(F.regexp_replace("text", "[^.,;:!?]", "")).alias("n_punct"),
    ).filter(F.size("words") > 0)
    n = F.size("words").cast("double")
    return d.select(
        "doc_id",
        F.size("words").alias("n_tokens"),
        F.round(F.col("text_len").cast("double") / n, 6).alias("avg_token_span"),
        F.round(
            F.size(
                F.filter("words", lambda w: F.array_contains(stop_lit, w))
            ).cast("double")
            / n,
            6,
        ).alias("stopword_ratio"),
        F.round(F.col("n_punct").cast("double") / F.col("text_len"), 6).alias(
            "punct_ratio"
        ),
        F.round(F.size(F.array_distinct("words")).cast("double") / n, 6).alias(
            "distinct_ratio"
        ),
    )


# Minimal per-language marker vocabularies for the n-gram/stopword
# language-ID heuristic. Deterministic, dictionary-free.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "las", "es", "una", "y"],
    "zh": ["de", "shi", "bu", "le", "wo", "ni"],
}


@query(
    "text_langid",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang AS lang_label,
               {_SQL_TOKENS.format(c='text')} AS words FROM documents
    ),
    scored AS (
        SELECT doc_id, lang_label,
           len(list_filter(words, w -> list_contains({_LANG_MARKERS['en']!r}, w))) AS hits_en,
           len(list_filter(words, w -> list_contains({_LANG_MARKERS['de']!r}, w))) AS hits_de,
           len(list_filter(words, w -> list_contains({_LANG_MARKERS['fr']!r}, w))) AS hits_fr,
           len(list_filter(words, w -> list_contains({_LANG_MARKERS['es']!r}, w))) AS hits_es,
           len(list_filter(words, w -> list_contains({_LANG_MARKERS['zh']!r}, w))) AS hits_zh
        FROM tok
    )
    SELECT doc_id, lang_label,
           CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es, hits_zh) = 0
                THEN 'unknown'
                WHEN hits_en >= greatest(hits_de, hits_fr, hits_es, hits_zh) THEN 'en'
                WHEN hits_de >= greatest(hits_fr, hits_es, hits_zh) THEN 'de'
                WHEN hits_fr >= greatest(hits_es, hits_zh) THEN 'fr'
                WHEN hits_es >= hits_zh THEN 'es'
                ELSE 'zh' END AS lang_pred
    FROM scored
    """,
    description="Language-ID heuristic (north-star text analysis): marker-"
    "word hit counts per language, argmax with a deterministic preference "
    "order. Dictionary-free n-gram-style heuristic; a real deployment swaps "
    "the marker lists for char-n-gram profiles — the dataflow (narrow map, "
    "no shuffle) is identical.",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = tokens("text")
    d = d.select("doc_id", F.col("lang").alias("lang_label"), words.alias("words"))

    def hits(lang: str) -> F.Column:
        lit = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter("words", lambda w: F.array_contains(lit, w)))

    d = d.select(
        "doc_id",
        "lang_label",
        *[hits(lg).alias(f"hits_{lg}") for lg in ("en", "de", "fr", "es", "zh")],
    )
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in ("en", "de", "fr", "es", "zh")])
    pred = (
        F.when(best == 0, "unknown")
        .when(
            F.col("hits_en")
            >= F.greatest("hits_de", "hits_fr", "hits_es", "hits_zh"),
            "en",
        )
        .when(F.col("hits_de") >= F.greatest("hits_fr", "hits_es", "hits_zh"), "de")
        .when(F.col("hits_fr") >= F.greatest("hits_es", "hits_zh"), "fr")
        .when(F.col("hits_es") >= F.col("hits_zh"), "es")
        .otherwise("zh")
    )
    return d.select("doc_id", "lang_label", pred.alias("lang_pred"))


@query(
    "text_fingerprint",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(w) >= 3 THEN
             list_aggregate(list_transform(range(1, len(w) - 1),
                 i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])), 'min')
           ELSE md5(array_to_string(w, ' ')) END AS fingerprint
    FROM tok
    """,
    description="Document fingerprinting (north-star text analysis): "
    "min-hash over 3-word shingles using md5 (engine-portable hash). "
    "The rolling-shingle construction is a narrow map; identical docs get "
    "identical fingerprints, near-identical docs collide with probability "
    "~ jaccard similarity.",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    w = tokens("text")
    d = d.select("doc_id", w.alias("w"))
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                F.element_at("w", i),
                F.element_at("w", i + 1),
                F.element_at("w", i + 2),
            )
        ),
    )
    fp = F.when(F.size("w") >= 3, F.array_min(shingle_hashes)).otherwise(
        F.md5(F.array_join("w", " "))
    )
    return d.select("doc_id", fp.alias("fingerprint"))


_BM25_QUERY_TERMS = ("spark", "join", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "text_bm25",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS words FROM documents
    ),
    doclen AS (SELECT doc_id, len(words) AS dl FROM tok),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM doclen
    ),
    tf AS (
        SELECT t.doc_id, u.term, COUNT(*) AS tf
        FROM tok t, UNNEST(t.words) AS u(term)
        WHERE u.term IN {_BM25_QUERY_TERMS!r}
        GROUP BY t.doc_id, u.term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * doclen.dl / stats.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df USING (term)
    JOIN doclen ON doclen.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 20
    """,
    description="BM25 ranking — the FTS5 bm25() analog (reference enables "
    "FTS5: pkg/sqlite3/sqlite3.go:20). Query-time dataflow for a known "
    "query: per-doc tf of each query term via an array filter (narrow "
    "map, no postings explode), ONE global aggregate producing "
    "(n_docs, avgdl, df per term) broadcast back, score as a map "
    "expression, TakeOrdered top-20. The only shuffle is the stats "
    "aggregate — at 100 TB that is a constant-size partial-agg tree; "
    "an index-BUILD pipeline (unknown future queries) would instead "
    "materialize the exploded postings table once (see text_fingerprint/"
    "token ops for the tokenize stage it shares).",
    tags=("text", "fts"),
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    k1, b = _BM25_K1, _BM25_B
    terms = _BM25_QUERY_TERMS

    def tf_of(t):
        return F.size(F.filter("words", lambda w: w == t))

    # narrow (doc_id, dl, tf0..tfK) table materialized ONCE (r13): the
    # corpus stats and the scoring pass both consume it, and each
    # otherwise re-inlines the tokenize pass per execution. r14 scale
    # audit: O(n_docs) x ~18 B of longs — measured 54 MB at the x100m
    # point (~0.8% of the corpus bytes; tools/layers.py ckpt_MB),
    # the §8 lightweight-proxy shape rather than a corpus hazard.
    perdoc = d.select("doc_id", tokens("text").alias("words")).select(
        "doc_id",
        F.size("words").alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    ).localCheckpoint(eager=True)
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        s = idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
        parts.append(F.when(tf > 0, s).otherwise(F.lit(0.0)))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    any_tf = F.col("tf0")
    for i in range(1, len(terms)):
        any_tf = any_tf + F.col(f"tf{i}")
    return (
        perdoc.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "text_highlight_snippet",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '(?i)\\b(spark)\\b', '<b>\\1</b>', 'g')
               AS highlighted,
           CASE
             WHEN position('spark' IN lower(text)) > 30
             THEN '...' || substr(text,
                                  position('spark' IN lower(text)) - 30, 66)
                       || '...'
             ELSE substr(text, 1,
                         position('spark' IN lower(text)) + 35) || '...'
           END AS snippet
    FROM documents
    WHERE position('spark' IN lower(text)) > 0
    ORDER BY doc_id
    """,
    description="FTS5 highlight()/snippet() analogs (reference enables "
    "FTS5: pkg/sqlite3/sqlite3.go:20): match-term markup and a fixed-width "
    "excerpt around the first hit. Pure JVM string expressions "
    "(regexp_replace/locate/substring) — narrow map, no shuffle; pairs "
    "with text_bm25 for ranked search over the same corpus.",
    tags=("text", "fts"),
)
def text_highlight_snippet(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pos = F.locate("spark", F.lower(F.col("text")))
    highlighted = F.regexp_replace(
        F.col("text"), r"(?i)\b(spark)\b", "<b>$1</b>"
    )
    snippet = F.when(
        pos > 30,
        F.concat(F.lit("..."), F.substring(F.col("text"), pos - 30, 66), F.lit("...")),
    ).otherwise(
        F.concat(F.substring(F.col("text"), F.lit(1), pos + 35), F.lit("..."))
    )
    return (
        d.filter(pos > 0)
        .select(
            "doc_id",
            highlighted.alias("highlighted"),
            snippet.alias("snippet"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, len(w) AS n_tokens,
             len(list_distinct(w)) AS n_distinct,
             (SELECT MAX(c) FROM (
                SELECT COUNT(*) AS c FROM UNNEST(w) AS u(t) GROUP BY t))
               AS top_tf
      FROM tok WHERE len(w) > 0
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6)
               AS distinct_ratio,
           ROUND(CAST(top_tf AS DOUBLE) / n_tokens, 6) AS top_token_share
    FROM tf
    """,
    description="Repetition/boilerplate scoring (Gopher-style quality "
    "signal for training-data filtering): per-doc distinct-token ratio "
    "and most-frequent-token share. Pure narrow map — token histogram "
    "built per row with JVM higher-order functions (aggregate over a "
    "map), no shuffle at any scale.",
    tags=("text", "quality"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    # per-row top term frequency: sort the tokens, then a single fold
    # tracking the longest equal-run (codegen-friendly; no map state)
    top_tf = F.expr(
        "aggregate(array_sort(w), "
        "named_struct('prev', cast(null as string), 'run', 0, 'best', 0), "
        "(acc, t) -> named_struct("
        "  'prev', t, "
        "  'run', IF(acc.prev IS NOT NULL AND t = acc.prev, acc.run + 1, 1), "
        "  'best', greatest(acc.best, "
        "     IF(acc.prev IS NOT NULL AND t = acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best)"
    )
    base = d.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    return base.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("w")).cast("double") / F.size("w"), 6
        ).alias("distinct_ratio"),
        F.round(top_tf.cast("double") / F.size("w"), 6).alias(
            "top_token_share"
        ),
    )


@query(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ),
    postings AS (
      SELECT DISTINCT doc_id, u.term
      FROM tok, UNNEST(w) AS u(term)
    ),
    stats AS (SELECT COUNT(*) AS n_docs FROM tok)
    SELECT term, COUNT(*) AS df,
           ROUND(LN((CAST((SELECT n_docs FROM stats) AS DOUBLE) - COUNT(*)
                     + 0.5) / (COUNT(*) + 0.5) + 1.0), 6) AS idf
    FROM postings
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 30
    """,
    description="Inverted-index BUILD path (FTS5 index analog; "
    "complements text_bm25's query path): tokenize -> per-doc distinct "
    "terms (array_distinct before the explode, so duplicate tokens never "
    "hit the shuffle) -> document frequency + BM25 idf per term. At "
    "100 TB this is THE index pipeline: one explode-shuffle keyed by "
    "term, partial counts map-side; the df table is what query-time "
    "scoring broadcasts.",
    tags=("text", "fts"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    tok = d.select("doc_id", tokens("text").alias("w"))
    n_docs = tok.agg(F.count(F.lit(1)).alias("n_docs"))
    postings = tok.select(
        "doc_id", F.explode(F.array_distinct("w")).alias("term")
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    return (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("term", "df", F.round(idf, 6).alias("idf"))
        .orderBy(F.desc("df"), "term")
        .limit(30)
    )


@query(
    "text_topk_bigrams",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ),
    bigrams AS (
      SELECT u.bg
      FROM tok, UNNEST(list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])) AS u(bg)
    )
    SELECT bg AS bigram, COUNT(*) AS n
    FROM bigrams GROUP BY bg
    ORDER BY n DESC, bg
    LIMIT 20
    """,
    description="Corpus-wide top-k bigram frequency (n-gram LM / "
    "boilerplate & contamination detection): adjacent-pair construction "
    "with a JVM transform over 1-based element_at, explode keyed by "
    "bigram, partial counts map-side, TakeOrdered top-20. The shuffle "
    "carries only (bigram, partial count) pairs.",
    tags=("text", "ngram"),
)
def text_topk_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    w = tokens("text")
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    return (
        d.select(w.alias("w"))
        .filter(F.size("w") > 1)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


_PII_PATTERNS = {
    "emails": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phones": r"\+?\d[\d\- ]{7,}\d",
    "ipv4s": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}'))
               AS emails,
           len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{{7,}}\\d'))
               AS phones,
           len(regexp_extract_all(text,
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS ipv4s
    FROM documents
    WHERE len(regexp_extract_all(text,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}'))
          + len(regexp_extract_all(text, '\\+?\\d[\\d\\- ]{{7,}}\\d'))
          + len(regexp_extract_all(text,
              '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) > 0
    """,
    description="PII detection pass (training-data scrubbing): per-doc "
    "email/phone/IPv4 hit counts via JVM regexp_extract_all, emitting "
    "only documents with hits (the fixture corpus is clean, so the "
    "result is the empty set — the machinery, schema and pushdown are "
    "what this verifies; `pii_redact` below is the rewrite stage). "
    "Narrow map, no shuffle.",
    tags=("text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # idx=0 (whole match) is required, not cosmetic: the PII patterns have
    # zero capture groups, and Spark's regexp_extract_all defaults to group
    # 1 — which raises REGEX_GROUP_INDEX on the FIRST matching row. The
    # clean fixture corpus never matches, so only a corpus with real PII
    # (e.g. the x100-mutated replica) trips it. Group 0 is also the DuckDB
    # oracle's default, so counts agree on dirty corpora too.
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(name)
        for name, pat in _PII_PATTERNS.items()
    ]
    out = d.select("doc_id", *counts)
    total = sum((F.col(n) for n in _PII_PATTERNS), F.lit(0))
    return out.filter(total > 0)


def pii_redact(df: DataFrame, col: str = "text") -> DataFrame:
    """Redaction stage of the PII pipeline: replace every match of each
    PII pattern with a typed placeholder. Chainable narrow map."""
    out = F.col(col)
    for name, pat in _PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.rstrip('s').upper()}>")
    return df.withColumn(col, out)


def fts_match(
    docs: DataFrame,
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenize: str = "unicode61",
    trigram_postings_df: DataFrame | None = None,
) -> DataFrame:
    """FTS5 MATCH boolean retrieval (`docs MATCH 'a AND b (c OR d) NOT e'`)
    as posting-list algebra — the FTS5 query surface the reference enables
    via its build flag (reference: pkg/sqlite3/sqlite3.go:20).

    Scale path: tokenize -> per-doc distinct terms -> keep ONLY postings
    for query terms (an `isin` filter that reaches the scan, so the
    shuffle carries q-terms x matching-docs, not the whole index) ->
    one groupBy(doc) computing must-coverage and should-hits -> must_not
    via the same aggregate (no extra anti-join pass). Returns the
    matching id rows with `n_matched` (distinct query terms hit).

    `tokenize='porter'` mirrors FTS5's `tokenize='porter unicode61'`
    option (the reference build's stemming tokenizer): corpus terms
    are stemmed scan-side by the staged Porter expression (pure
    codegen, functions/porter.py — same shuffle shape as the
    unstemmed path) and query terms through the identical stage chain
    driver-side, so 'querying' matches docs containing 'query'.

    `tokenize='trigram'` mirrors FTS5's trigram tokenizer on the same
    boolean surface: every query term is an exact SUBSTRING predicate
    (no word boundaries), resolved purely index-side by the
    phrase-adjacency anchor algebra (text_trigram._anchor_hits) — one
    pruned posting probe for ALL terms, then the identical
    must/should/not coverage aggregate keyed by term index.
    """
    must, should, must_not = list(must), list(should), list(must_not)
    if tokenize == "trigram":
        from litebase_spark.operators.text_trigram import (
            _anchor_hits,
            trigram_postings,
        )

        terms = [t.lower() for t in must + should + must_not]
        short = [t for t in terms if len(t) < 3]
        if short:
            raise ValueError(
                f"fts_match(tokenize='trigram'): terms shorter than "
                f"3 chars are unindexable: {short!r}"
            )
        n_m, n_s = len(must), len(should)
        # pass a prebuilt trigram_postings_df (the materialized
        # parquet index) to skip the inline index build — the
        # amortized 100 TB shape tools/trigram_economics.py measures
        post = (
            trigram_postings_df
            if trigram_postings_df is not None
            else trigram_postings(docs, id_col, text_col)
        )
        hits = (
            _anchor_hits(post, terms, id_col)
            .select(id_col, "run")
            .distinct()
        )
        in_rng = lambda lo, hi: F.sum(
            F.when((F.col("run") >= lo) & (F.col("run") < hi), 1)
            .otherwise(0)
        )
        agg = hits.groupBy(id_col).agg(
            in_rng(0, n_m).alias("__must"),
            (in_rng(n_m, n_m + n_s) if n_s else F.lit(1)).alias(
                "__should"
            ),
            in_rng(n_m + n_s, len(terms)).alias("__not"),
            F.count(F.lit(1)).alias("n_matched"),
        )
        return (
            agg.filter(
                (F.col("__must") == n_m)
                & (F.col("__should") >= (1 if n_s else 0))
                & (F.col("__not") == 0)
            )
            .select(
                id_col,
                (F.col("n_matched") - F.col("__not")).alias("n_matched"),
            )
        )
    u61_opts = None
    if tokenize == "porter":
        from litebase_spark.functions.porter import (
            porter_stem_py,
            stem_vocabulary,
        )

        must = [porter_stem_py(t) for t in must]
        should = [porter_stem_py(t) for t in should]
        must_not = [porter_stem_py(t) for t in must_not]
    elif tokenize.startswith("unicode61 "):
        # full unicode61 option surface — remove_diacritics 0|1|2,
        # tokenchars, separators — probed-table tokenizer
        # (functions/unicode61.py); query terms go through the
        # Python twin so corpus and query always agree
        from litebase_spark.functions.unicode61 import (
            parse_unicode61_options,
            unicode61_tokens_py,
        )

        u61_opts = parse_unicode61_options(
            tokenize[len("unicode61 "):]
        )

        def _fold_term(t: str) -> str:
            toks_ = unicode61_tokens_py(t.lower(), **u61_opts)
            if len(toks_) != 1:
                raise ValueError(
                    f"query term {t!r} tokenizes to {toks_!r} under "
                    f"unicode61 {u61_opts} — use one token per term"
                )
            return toks_[0]

        must = [_fold_term(t) for t in must]
        should = [_fold_term(t) for t in should]
        must_not = [_fold_term(t) for t in must_not]
    elif tokenize != "unicode61":
        raise ValueError(f"unsupported tokenize mode {tokenize!r}")
    qterms = must + should + must_not
    if u61_opts is not None:
        from litebase_spark.functions.unicode61 import unicode61_tokens

        # materialize the token arrays BEFORE the explode (eager
        # localCheckpoint -> the Generate's child is a bare column):
        # Spark's Generate re-evaluates its child expression per
        # OUTPUT row, and the options tokenizer's corrected-class
        # split recompiles a ~650-char pattern each time — measured
        # 190 s vs ~3 s over the x100 corpus. The default tokenizer
        # below survives the same re-evaluation because its pattern
        # is 12 chars; at 100 TB this materialization is the posting
        # table every FTS design persists anyway.
        tok_tbl = docs.select(
            F.col(id_col),
            F.array_distinct(
                unicode61_tokens(text_col, **u61_opts)
            ).alias("__w"),
        ).localCheckpoint(eager=True)
        postings = tok_tbl.select(
            F.col(id_col), F.explode("__w").alias("term")
        )
    else:
        postings = docs.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("term"),
        )
    if tokenize == "porter":
        # vocabulary-side stemming: the distinct-term table is tiny
        # relative to the postings, so the stemmer runs once over it,
        # the map is pruned to surface forms of the QUERY stems (a
        # handful of rows — always broadcastable), and a broadcast
        # semi-ish join replaces per-posting stemming. Surface forms
        # of one stem then dedupe on (doc, stem) before the coverage
        # aggregate (same doc-keyed exchange as the groupBy).
        #
        # First-letter prune BEFORE the stage chain: every Porter rule
        # is a suffix truncation/replacement (porter_stages — and the
        # fuzz test pins it), so stem(t)[0] == t[0] always; only terms
        # sharing a first letter with a query stem can be its surface
        # form. This bounds the stem chain to the matching
        # first-letter slice of the vocabulary — ~4/26ths here —
        # which is what kept the x100-mutated replica (vocabulary
        # inflated ~linearly by salted tokens) >120 s. The isin
        # filter below lands on stem_vocabulary's checkpointed map,
        # never on the lazy chain (see stem_vocabulary: unbarriered
        # chain + pushdown hazard).
        first = sorted({t[0] for t in qterms if t})
        qmap = stem_vocabulary(
            postings.select("term").filter(
                F.substring("term", 1, 1).isin(first)
            ),
            "term",
            "__stem",
        ).filter(F.col("__stem").isin(qterms))
        postings = (
            postings.join(F.broadcast(qmap), "term")
            .select(id_col, F.col("__stem").alias("term"))
            .dropDuplicates([id_col, "term"])
        )
    else:
        postings = postings.filter(F.col("term").isin(qterms))
    in_set = lambda ts: F.sum(F.when(F.col("term").isin(ts), 1).otherwise(0))
    agg = postings.groupBy(id_col).agg(
        in_set(must).alias("__must") if must else F.lit(0).alias("__must"),
        in_set(should).alias("__should") if should else F.lit(1).alias("__should"),
        in_set(must_not).alias("__not") if must_not else F.lit(0).alias("__not"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    return (
        agg.filter(
            (F.col("__must") == len(must))
            & (F.col("__should") >= (1 if should else 0))
            & (F.col("__not") == 0)
        )
        .select(id_col, (F.col("n_matched") - F.col("__not")).alias("n_matched"))
    )


@query(
    "fts_match_boolean",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(list_distinct(w),
                t -> list_contains(['spark','query','stream','vector'], t)))
                AS BIGINT) AS n_matched
    FROM tok
    WHERE list_contains(w, 'spark') AND list_contains(w, 'query')
      AND (list_contains(w, 'stream') OR list_contains(w, 'vector'))
      AND NOT list_contains(w, 'merge')
    """,
    description="FTS5 MATCH boolean query ('spark AND query AND (stream "
    "OR vector) NOT merge') via inverted-posting intersection: the "
    "isin(query-terms) filter prunes postings before the shuffle, one "
    "groupBy(doc_id) evaluates must/should/not coverage — no per-term "
    "join chain, no second pass for NOT. At 100 TB the shuffle carries "
    "only (doc, matched-term) pairs for the 5 query terms.",
    tags=("text", "fts"),
)
def fts_match_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    return fts_match(
        d,
        must=["spark", "query"],
        should=["stream", "vector"],
        must_not=["merge"],
    )


@query(
    "fts_match_unicode61_sep",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text),
               '[^a-df-z0-9]+'), w -> length(w) > 0) AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(list_distinct(w),
                t -> list_contains(['tabl', 'spark', 'sort', 'scan'], t)))
                AS BIGINT) AS n_matched
    FROM tok
    WHERE list_contains(w, 'tabl') AND list_contains(w, 'spark')
      AND list_contains(w, 'sort')
      AND NOT list_contains(w, 'scan')
    """,
    description="FTS5 MATCH under unicode61 tokenizer OPTIONS "
    "(tokenize=\"unicode61 separators 'e'\" — the same option surface "
    "the reference's FTS5 build accepts, www.sqlite.org/fts5.html"
    "#unicode61_tokenizer): 'e' becomes a separator, so corpus term "
    "'table' indexes as 'tabl' and the query terms fold through the "
    "IDENTICAL Python-twin tokenizer driver-side. The tokenizer is "
    "probed-table-driven (functions/unicode61.py: fold + "
    "classification deltas measured per codepoint from real sqlite "
    "FTS5, differential-tested over mixed-script fuzz in "
    "test_unicode61.py) and compiles to one split + per-token "
    "translate — pure codegen, same narrow scan-stage shape as the "
    "default tokenizer; the oracle mirrors the derived "
    "[^a-df-z0-9]+ separator class independently.",
    tags=("text", "fts"),
)
def fts_match_unicode61_sep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    return fts_match(
        d,
        must=["table", "spark"],
        should=["sort"],
        must_not=["scan"],
        tokenize="unicode61 separators 'e'",
    )


def _porter_match_oracle() -> str:
    from litebase_spark.functions.porter import porter_duckdb_cte

    stemmed = porter_duckdb_cte(
        f"""SELECT doc_id, UNNEST(list_distinct(
              {_SQL_TOKENS.format(c='text')})) AS tok
            FROM documents"""
    )
    # query-term stems ('querying','tables','valued','merges' through
    # the same chain) — literal here, pinned by test_porter's twin test
    return f"""
    WITH hits AS (
      SELECT DISTINCT doc_id, stem
      FROM ({stemmed})
      WHERE stem IN ('queri', 'tabl', 'valu', 'merg')
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
    FROM hits
    GROUP BY doc_id
    HAVING SUM(CASE WHEN stem = 'queri' THEN 1 ELSE 0 END) = 1
       AND SUM(CASE WHEN stem IN ('tabl', 'valu') THEN 1 ELSE 0 END) >= 1
       AND SUM(CASE WHEN stem = 'merg' THEN 1 ELSE 0 END) = 0
    """


@query(
    "fts_match_porter",
    oracle=_porter_match_oracle(),
    description="FTS5 MATCH with the reference's porter stemming "
    "tokenizer option (tokenize='porter unicode61', the FTS5 flag at "
    "pkg/sqlite3/sqlite3.go:20): 'querying AND (tables OR valued) "
    "NOT merges' retrieves docs containing query/table/value surface "
    "forms — the stemmed index is what makes morphological variants "
    "match. The stemmer is the classic Porter algorithm compiled to "
    "a dialect-neutral SQL stage chain (functions/porter.py): the "
    "SAME stage strings run as Catalyst expressions here and as the "
    "oracle's CTE chain, and are differential-tested against Python "
    "sqlite3's actual FTS5 porter tokenizer over a 17k-word fuzz "
    "corpus (tests/test_porter.py). Scale: stemming is O(|vocab|), "
    "never O(postings) — the stage chain runs over the distinct "
    "vocabulary pre-pruned to query-stem first letters (Porter rules "
    "are suffix-only, so the first character always survives), the "
    "pruned term->stem map broadcasts back onto postings, then one "
    "doc-keyed exchange dedupes surface forms and evaluates "
    "must/should/not coverage.",
    tags=("text", "fts"),
)
def fts_match_porter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    return fts_match(
        d,
        must=["querying"],
        should=["tables", "valued"],
        must_not=["merges"],
        tokenize="porter",
    )


def fts_phrase_prefix(
    docs: DataFrame,
    phrase: list[str],
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FTS5 ``"w1 w2 ..." pref*`` MATCH as pruned posting algebra —
    the index-probe plan, not a corpus regexp scan (SQLite answers
    the prefix from the FTS term b-tree; the reference enables FTS5
    wholesale, pkg/sqlite3/sqlite3.go:20).

    Plan: ONE posexplode pass keeps only postings that are a phrase
    word or carry the prefix (the filter sits directly on the
    exploded term, before any shuffle). Phrase adjacency is anchor
    arithmetic — word k must appear at anchor+k, so each phrase word
    joins on (doc, normalized position), keyed and bounded by term
    frequency; the prefix check is a startswith over the SAME pruned
    postings. No Contains/LIKE/RLIKE ever touches the corpus text.
    Against a 100 TB corpus with a materialized posting index the
    identical algebra probes index row-groups (cf. text_trigram.py
    postings + fts_near's pruned posting joins). Returns distinct
    matching ids."""
    words = [w.lower() for w in phrase]
    # Materialize the PRUNED postings once: the phrase anchors, each
    # phrase-word probe and the prefix probe all consume `pos`, and
    # without the barrier every consumer re-inlines the full
    # tokenize+posexplode corpus pass (history/plans/r13/
    # fts_match_phrase_prefix_before.txt: 8 parquet scans, 18
    # exchanges for a 2-word phrase + prefix). The pruned postings are
    # a few rows per matching doc — exactly the slice of the posting
    # index a materialized-index deployment would read.
    pos = docs.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("p", "term"),
    ).filter(
        F.col("term").isin(words) | F.col("term").startswith(prefix.lower())
    ).localCheckpoint(eager=True)
    anchors = pos.filter(F.col("term") == words[0]).select(id_col, "p")
    for k, w in enumerate(words[1:], start=1):
        nxt = pos.filter(F.col("term") == w).select(
            id_col, (F.col("p") - k).alias("p")
        )
        anchors = anchors.join(nxt, [id_col, "p"])
    phrase_docs = anchors.select(id_col).distinct()
    pref_docs = (
        pos.filter(F.col("term").startswith(prefix.lower()))
        .select(id_col)
        .distinct()
    )
    return phrase_docs.join(pref_docs, id_col)


@query(
    "fts_match_phrase_prefix",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE regexp_matches(lower(text),
            '(^|[^a-z0-9])big[^a-z0-9]+table([^a-z0-9]|$)')
      AND regexp_matches(lower(text), '(^|[^a-z0-9])str[a-z0-9]*')
    """,
    description="FTS5 phrase + prefix MATCH ('\"big table\" str*') as "
    "pruned posting algebra (fts_phrase_prefix): phrase adjacency via "
    "anchor arithmetic on position postings, prefix via startswith on "
    "the pruned term postings — the plan a 100 TB corpus needs, where "
    "a regexp scan re-reads the whole corpus per query but the "
    "posting probe reads only matching terms (SQLite itself answers "
    "str* from the FTS term b-tree). The oracle deliberately stays "
    "the independent regexp formulation, so the posting algebra is "
    "cross-checked against a different evaluation strategy. Plan "
    "assertion: no Contains/LIKE/RLIKE over corpus text "
    "(test_new_ops_r13.py).",
    tags=("text", "fts"),
)
def fts_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load(spark, sf_dir, "documents")
    d = spread(raw)
    hits = fts_phrase_prefix(d, ["big", "table"], "str")
    # join the narrow (doc_id, n_chars) projection of the RAW scan —
    # repartitioning it first paid a full exchange ahead of a build
    # side that is broadcast anyway
    return hits.join(raw.select("doc_id", "n_chars"), "doc_id")


# ---------------------------------------------------------------------------
# FTS5 MATCH syntax completion: NEAR(), column filters, ^-initial, and a
# MATCH-string compiler (reference enables full FTS5: pkg/sqlite3/sqlite3.go:20)
# ---------------------------------------------------------------------------


def fts_near(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FTS5 ``NEAR(a b, n)`` as posting-list algebra: terms a and b with
    at most n tokens strictly between an occurrence of each. Scale path:
    the position postings are pruned to the two query terms BEFORE the
    shuffle (the isin filter reaches the scan), the join is keyed by
    doc and bounded by term frequency — never positions x positions
    across documents. Emits (doc, min_gap)."""
    pos = docs.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("p", "term"),
    ).filter(F.col("term").isin([term_a, term_b]))
    a = pos.filter(F.col("term") == term_a).select(id_col, F.col("p").alias("pa"))
    b = pos.filter(F.col("term") == term_b).select(id_col, F.col("p").alias("pb"))
    gap = F.abs(F.col("pa") - F.col("pb")) - 1
    return (
        a.join(b, id_col)
        .groupBy(id_col)
        .agg(F.min(gap).cast("long").alias("min_gap"))
        .filter(F.col("min_gap") <= n)
    )


@query(
    "fts_match_near",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), w -> length(w) > 0) AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, UNNEST(list_transform(range(1, len(w) + 1),
               i -> {'p': i, 'term': w[i]}), recursive := true)
      FROM tok
    ), pa AS (SELECT doc_id, p FROM pos WHERE term = 'table'),
    pb AS (SELECT doc_id, p FROM pos WHERE term = 'scan')
    SELECT pa.doc_id, MIN(ABS(pa.p - pb.p) - 1) AS min_gap
    FROM pa JOIN pb ON pa.doc_id = pb.doc_id
    GROUP BY pa.doc_id HAVING MIN(ABS(pa.p - pb.p) - 1) <= 3
    """,
    description="FTS5 NEAR(table scan, 3) MATCH: proximity retrieval via "
    "position postings. Postings are pruned to the two query terms "
    "before any shuffle, the position join is keyed by doc_id and "
    "bounded by per-doc term frequency, and one aggregate takes the "
    "minimum gap — no cross-document position blowup at any corpus "
    "size. Completes the FTS5 MATCH surface the reference enables "
    "(pkg/sqlite3/sqlite3.go:20) alongside boolean/phrase/prefix.",
    tags=("text", "fts"),
)
def fts_match_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    return fts_near(d, "table", "scan", 3)


def _fts_positions(toks, term: str):
    """1-based positions of term (JVM higher-order, no index hazards)."""
    pairs = F.transform(
        toks,
        lambda x, i: F.struct((i + F.lit(1)).alias("p"), x.alias("w")),
    )
    return F.transform(
        F.filter(pairs, lambda s: s["w"] == F.lit(term)), lambda s: s["p"]
    )


def _fts_tokenize_match(match: str) -> list[str]:
    import re as _re

    return _re.findall(r'"[^"]*"|\(|\)|,|:|\^|\*|[A-Za-z0-9_]+', match)


def fts5_compile(match: str, columns: dict[str, F.Column], default: str):
    """Compile an FTS5 MATCH string to ONE boolean Column over per-column
    token arrays — the whole predicate evaluates inside whole-stage
    codegen as a narrow map (no UDF, no join) and composes with the
    posting-list operators for the selective-first plan.

    Supported surface (the practical FTS5 query grammar,
    www.sqlite.org/fts5.html#full_text_query_syntax): implicit AND,
    OR, binary NOT, parentheses, "phrases", prefix*, ^initial,
    col:term / col:(...) column filters, NEAR(a b, n) with two terms.
    `columns` maps column name -> token-array Column; `default` names
    the column unfiltered atoms search.
    """
    toks_list = list(_fts_tokenize_match(match))
    pos = [0]

    def peek():
        return toks_list[pos[0]] if pos[0] < len(toks_list) else None

    def take(expected=None):
        t = peek()
        if t is None or (expected is not None and t != expected):
            raise ValueError(f"FTS5 parse error at {t!r} in {match!r}")
        pos[0] += 1
        return t

    def atom_col(word: str, col: str, initial: bool):
        t = columns[col]
        if peek() == "*":
            take("*")
            pref = word.lower()
            if initial:
                first = F.try_element_at(t, F.lit(1))
                return first.isNotNull() & first.startswith(pref)
            return F.exists(t, lambda w: w.startswith(pref))
        w = word.lower()
        if initial:
            return F.try_element_at(t, F.lit(1)) == w
        return F.array_contains(t, w)

    def phrase_col(quoted: str, col: str):
        words = [w for w in quoted.strip('"').lower().split() if w]
        if not words:
            raise ValueError(f"empty phrase in {match!r}")
        t = columns[col]
        first = _fts_positions(t, words[0])
        cond = lambda p: F.lit(True)
        if len(words) > 1:
            def cond(p):
                c = F.lit(True)
                for k, w in enumerate(words[1:], start=1):
                    c = c & (F.try_element_at(t, p + k) == w)
                return c
        return F.exists(first, cond)

    def near_group(col: str):
        take("(")
        terms = []
        while peek() not in (",", ")"):
            terms.append(take())
        nval = 10  # FTS5 default N
        if peek() == ",":
            take(",")
            nval = int(take())
        take(")")
        if len(terms) != 2:
            raise ValueError("NEAR supports exactly two terms here")
        t = columns[col]
        pa = _fts_positions(t, terms[0].lower())
        pb = _fts_positions(t, terms[1].lower())
        return F.exists(
            pa, lambda p: F.exists(pb, lambda q: F.abs(p - q) - 1 <= nval)
        )

    def primary(col: str):
        t = peek()
        if t == "(":
            take("(")
            e = expr(col)
            take(")")
            return e
        if t == "NEAR":
            take("NEAR")
            return near_group(col)
        if t == "^":
            take("^")
            return atom_col(take(), col, initial=True)
        if t is not None and t.startswith('"'):
            return phrase_col(take(), col)
        word = take()
        if peek() == ":":
            if word not in columns:
                raise ValueError(f"unknown column {word!r} in {match!r}")
            take(":")
            return primary(word)
        return atom_col(word, col, initial=False)

    def not_expr(col: str):
        e = primary(col)
        while peek() == "NOT":
            take("NOT")
            e = e & ~primary(col)
        return e

    def and_expr(col: str):
        e = not_expr(col)
        while peek() is not None and peek() not in (")", "OR"):
            if peek() == "AND":
                take("AND")
            e = e & not_expr(col)
        return e

    def expr(col: str):
        e = and_expr(col)
        while peek() == "OR":
            take("OR")
            e = e | and_expr(col)
        return e

    out = expr(default)
    if peek() is not None:
        raise ValueError(f"trailing {peek()!r} in {match!r}")
    return out


_FTS_SYNTAX_MATCH = (
    'source : src3 AND (NEAR(table scan, 3) OR "big table") NOT merge'
)


@query(
    "fts_match_syntax_full",
    oracle="""
    WITH tok AS (
      SELECT doc_id, n_chars, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               w -> length(w) > 0) AS w,
             list_filter(string_split_regex(lower(source), '[^a-z0-9]+'),
               s -> length(s) > 0) AS sw
      FROM documents
    ), pos AS (
      SELECT doc_id, UNNEST(list_transform(range(1, len(w) + 1),
               i -> {'p': i, 'term': w[i]}), recursive := true)
      FROM tok
    ), near_hits AS (
      SELECT pa.doc_id FROM
        (SELECT doc_id, p FROM pos WHERE term = 'table') pa
        JOIN (SELECT doc_id, p FROM pos WHERE term = 'scan') pb
          ON pa.doc_id = pb.doc_id
      GROUP BY pa.doc_id HAVING MIN(ABS(pa.p - pb.p) - 1) <= 3
    )
    SELECT t.doc_id, t.n_chars
    FROM tok t
    WHERE list_contains(t.sw, 'src3')
      AND (t.doc_id IN (SELECT doc_id FROM near_hits)
           OR regexp_matches(lower(t.text),
              '(^|[^a-z0-9])big[^a-z0-9]+table([^a-z0-9]|$)'))
      AND NOT list_contains(t.w, 'merge')
    """,
    description="Compiled FTS5 MATCH string — 'source : src3 AND "
    "(NEAR(table scan, 3) OR \"big table\") NOT merge' — through the "
    "fts5_compile recursive-descent parser: column filters, NEAR "
    "proximity, phrase adjacency, boolean algebra, all compiled into a "
    "single JVM boolean expression evaluated as a narrow codegen map "
    "(zero UDFs, zero joins). At 100 TB this is the verify stage over "
    "posting-list candidates; standalone it is one full-scan map.",
    tags=("text", "fts"),
)
def fts_match_syntax_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    cols = {"text": tokens("text"), "source": tokens("source")}
    pred = fts5_compile(_FTS_SYNTAX_MATCH, cols, default="text")
    return d.filter(pred).select("doc_id", "n_chars")


_CONTAM_THRESHOLD = 0.2
_N_PROBES = 25  # fixture probe set: doc_id < 25 plays the benchmark


@query(
    "text_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, len(w) - 1),
               i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
      FROM (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w
            FROM documents)
      WHERE len(w) >= 3
    ),
    probes AS (
      SELECT doc_id AS probe_id, sh AS psh FROM tok
      WHERE doc_id < {_N_PROBES}
    ),
    cand AS (
      SELECT t.doc_id, p.probe_id,
             len(list_filter(t.sh, s -> list_contains(p.psh, s))) AS inter,
             len(p.psh) AS n_probe
      FROM tok t, probes p WHERE t.doc_id <> p.probe_id
    )
    SELECT doc_id, probe_id,
           ROUND(CAST(inter AS DOUBLE) / n_probe, 6) AS containment
    FROM cand
    WHERE CAST(inter AS DOUBLE) / n_probe >= {_CONTAM_THRESHOLD}
    """,
    description="Benchmark-contamination detection (eval-set "
    "decontamination, a standard LLM training-data gate): 3-gram shingle "
    "CONTAINMENT |doc ∩ probe| / |probe| of every corpus doc against a "
    "probe (benchmark) set — containment, not Jaccard, because a long "
    "doc quoting a whole short benchmark item must score ~1.0. Spark "
    "path: inverted shingle index join — probe postings are tiny and "
    "broadcast, corpus postings stream by; no cross join at any scale. "
    "Fixture probe set = doc_id < 25.",
    tags=("text", "dedup"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 2),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    F.element_at("w", i),
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                )
            ),
        )
    )
    # tokenizer barrier + explode_outer: see text_containment_rare —
    # without these the InferFiltersFromGenerate size(sh) > 0 predicate
    # pushes the whole shingle expression (with the tokenizer inlined
    # per element_at) into the single-partition scan; measured
    # 12.8 s -> ~1 s at sf0.1. size(w) >= 3 guarantees sh non-empty.
    tw = d.select("doc_id", w.alias("w"))
    if tw.rdd.getNumPartitions() < 8:
        tw = tw.repartition(spark.sparkContext.defaultParallelism)
    # guard short docs with a NULL array inside the projection (a
    # pre-explode size(w) filter is pushed below the exchange with the
    # tokenizer inlined — one extra full regex pass over the corpus);
    # NULL rows drop at the post-Generate isNotNull
    tok = tw.select(
        "doc_id", F.when(F.size("w") >= 3, sh).alias("sh")
    )
    probes = tok.filter(F.col("doc_id") < _N_PROBES).select(
        F.col("doc_id").alias("probe_id"), F.col("sh").alias("psh")
    )
    probe_post = probes.select(
        "probe_id",
        F.size("psh").alias("n_probe"),
        F.explode_outer("psh").alias("s"),
    ).filter(F.col("s").isNotNull())
    corpus_post = tok.select(
        "doc_id", F.explode_outer("sh").alias("s")
    ).filter(F.col("s").isNotNull())
    inter = (
        corpus_post.join(F.broadcast(probe_post), on="s")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id", "probe_id", "n_probe")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    containment = F.col("inter").cast("double") / F.col("n_probe")
    return (
        inter.filter(containment >= _CONTAM_THRESHOLD)
        .select(
            "doc_id",
            "probe_id",
            F.round(containment, 6).alias("containment"),
        )
    )


_GQ_STOPS = ("the", "a", "and", "of", "to", "in")


@query(
    "text_gopher_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               list_sum(list_transform(toks, w -> length(w))) * 1.0
                 / len(toks) AS mwl,
               list_sum(list_transform(toks,
                 w -> CASE WHEN regexp_matches(w, '[a-z]')
                      THEN 1 ELSE 0 END)) * 1.0 / len(toks) AS af,
               CAST(list_sum(list_transform(toks,
                 w -> CASE WHEN w IN {str(_GQ_STOPS)}
                      THEN 1 ELSE 0 END)) AS BIGINT) AS stop_hits
        FROM t
    )
    SELECT doc_id, n_words,
           ROUND(mwl, 6) AS mean_word_len,
           ROUND(af, 6) AS alpha_frac,
           stop_hits,
           (n_words BETWEEN 30 AND 100000
            AND mwl BETWEEN 3.0 AND 10.0
            AND af >= 0.8
            AND stop_hits >= 2) AS keep
    FROM m
    """,
    description="Gopher-rule document quality filter (Rae et al. 2021 "
    "repetition-free subset): word-count bounds, mean word length in "
    "[3,10], fraction of alphabetic words, minimum stopword hits; emits "
    "per-rule measurements plus the fused keep flag. All rules are one "
    "narrow map over the token array — no shuffle, no UDF; at 100 TB "
    "this runs scan-speed as the first pipeline stage and the keep flag "
    "predicate-pushes into every downstream read.",
    tags=("text", "quality"),
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    d = d.select("doc_id", toks.alias("toks"))
    n_words = F.size("toks")
    mwl = (
        F.aggregate(
            F.transform(F.col("toks"), F.length),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        * F.lit(1.0)
        / n_words
    )
    af = (
        F.size(F.filter(F.col("toks"), lambda w: w.rlike("[a-z]")))
        * F.lit(1.0)
        / n_words
    )
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda w: w.isin(*_GQ_STOPS))
    ).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(af, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        (
            n_words.between(30, 100000)
            & mwl.between(3.0, 10.0)
            & (af >= 0.8)
            & (stop_hits >= 2)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# CCNet/RefinedWeb-style cross-document chunk dedup (line-dedup analog)
# ---------------------------------------------------------------------------

_CD_CHUNK = 3  # words per pseudo-paragraph (fixture docs have no newlines;
#   on real corpora the unit is the line/paragraph — same dataflow)
_CD_BOILER = 3  # chunk present in >= this many distinct docs is boilerplate


@query(
    "text_chunk_dedup",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               {_SQL_TOKENS.format(c='text')} AS ws
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               unnest(range(CAST(ceil(len(ws) / {_CD_CHUNK}.0) AS BIGINT)))
                   AS pos,
               ws
        FROM w WHERE len(ws) > 0
    ),
    ch AS (
        SELECT doc_id, pos,
               array_to_string(
                 list_slice(ws, pos * {_CD_CHUNK} + 1,
                            pos * {_CD_CHUNK} + {_CD_CHUNK}), ' ') AS chunk
        FROM c
    ),
    df AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS dfreq
        FROM ch GROUP BY chunk
    )
    SELECT ch.doc_id,
           COUNT(*) AS n_chunks,
           COUNT(*) FILTER (dfreq < {_CD_BOILER}) AS n_kept,
           COALESCE(string_agg(chunk, ' ' ORDER BY pos)
                    FILTER (dfreq < {_CD_BOILER}), '') AS clean_text
    FROM ch JOIN df USING (chunk)
    GROUP BY ch.doc_id
    """,
    description="CCNet/RefinedWeb-style cross-document dedup at chunk "
    "granularity (the line/paragraph-dedup analog — the fixture has no "
    "newlines, so the unit is a fixed 3-word chunk): split each doc into "
    "consecutive chunks, count per-chunk document frequency over the "
    "whole corpus, drop chunks appearing in >= 3 distinct docs "
    "(boilerplate), and reassemble the cleaned text in chunk order. "
    "Dataflow at 100 TB: one posexplode (narrow), one dfreq agg keyed "
    "by the 8-byte xxhash64 of the chunk (r14 — the corpus-growing "
    "shuffle ships int pairs, never chunk strings; a 64-bit key is "
    "collision-safe here: ~0.03 expected colliding pairs per 1e9 "
    "distinct chunks), one LEFT join back of the ckey-only BOILERPLATE "
    "subset (dfreq >= threshold — heavy-hitters, broadcastable in "
    "practice), one per-doc reassembly agg (the only exchange that "
    "carries chunk text, because the output is that text). No UDFs — "
    "stays in codegen.",
    tags=("text", "dedup"),
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = tokens("text")
    n_chunks = F.ceil(F.size("ws") / F.lit(float(_CD_CHUNK))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(
                F.slice(F.col("ws"), i * _CD_CHUNK + 1, _CD_CHUNK), " "
            ).alias("chunk"),
        ),
    )
    ch = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
        .select("doc_id", F.explode(chunks).alias("pc"))
        .select("doc_id", F.col("pc.pos").alias("pos"),
                F.col("pc.chunk").alias("chunk"))
        # NOT materialized (r13 note): ch is corpus-sized CHUNK TEXT —
        # an eager localCheckpoint here won the local A/B (1.32 ->
        # 0.86 s at sf0.1) but regressed x100-mutated 9.2 -> 30.5 s
        # (materializing ~7 GB of chunk strings costs more than the
        # second tokenize pass it saves). The two consumers each pay
        # one tokenize+chunk pass; only bounded tables get barriers.
    )
    # r14 (§2.3/§6): every exchange is keyed on the 8-byte xxhash64 of
    # the chunk, never the chunk STRING — the dfreq aggregate ships
    # (ckey, doc_id) int pairs instead of (chunk, doc_id), and the
    # join-back build side is the ckey-only BOILERPLATE set (dfreq >=
    # threshold), a strict subset of the old full-dfreq table, marked
    # with a literal and LEFT-joined: kept == (no boilerplate hit) ==
    # (dfreq < threshold). Chunk text crosses only the final
    # groupBy(doc_id) reassembly exchange, where it is the payload the
    # query's output is made of.
    ck = ch.withColumn("ckey", F.xxhash64("chunk"))
    boiler = (
        ck.select("ckey", "doc_id")
        .groupBy("ckey")
        .agg(F.count_distinct("doc_id").alias("dfreq"))
        .filter(F.col("dfreq") >= _CD_BOILER)
        .select("ckey", F.lit(1).alias("__boiler"))
    )
    flagged = ck.join(boiler, "ckey", "left")
    kept = F.when(F.col("__boiler").isNull(), True).otherwise(False)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__boiler").isNull(),
                                F.struct("pos", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# CCNet-style unigram language-model perplexity filter
# ---------------------------------------------------------------------------


@query(
    "text_unigram_logppl",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_SQL_TOKENS.format(c='text')}) AS w
        FROM documents
    ),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY doc_id, w
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM tok GROUP BY w
    ),
    tot AS (
        SELECT CAST(SUM(cw) AS BIGINT) AS n FROM uni
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           ROUND(-SUM(cnt * log2(CAST(cw AS DOUBLE) / n)) / SUM(cnt), 6)
               AS bits_per_token
    FROM tf JOIN uni USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
    description="CCNet-style perplexity quality signal: train a unigram "
    "LM on the corpus itself (token -> corpus frequency), then score "
    "each document by cross-entropy in bits/token "
    "(-1/n * sum log2 p(w)). High bits/token = tokens rare in the "
    "corpus = boilerplate/garbled candidates; in CCNet the LM is "
    "trained on a trusted corpus (Wikipedia) and docs are bucketed by "
    "perplexity — same dataflow, external LM table instead of uni. "
    "Scale: the token-level work is one narrow explode collapsed "
    "immediately to per-(doc, term) counts (map-side combine), so the "
    "heavy shuffle is tf not raw tokens; the vocab table is Zipf-small "
    "relative to the corpus and broadcast after aggregation, making "
    "the scoring join shuffle-free at 100 TB.",
    tags=("text", "pipeline"),
)
def text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    # the VOCABULARY-sized LM table is materialized once (r13): the
    # scoring broadcast and the corpus-total both consume uni, and
    # each otherwise re-inlines the whole tokenize+tf chain (3 corpus
    # passes per execution). uni is the trained LM a CCNet deployment
    # persists; a first cut checkpointed tf instead — per-(doc, term)
    # rows, corpus-scale — and DIED at x100-mutated (the materialized
    # table is the thing that must stay bounded, not the lineage).
    uni = (
        tf.groupBy("w")
        .agg(F.sum("cnt").alias("cw"))
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("cw").alias("n"))
    # no FORCED broadcast of the LM table (r13): on a Zipf corpus the
    # vocab is broadcast-small and AQE promotes the join to broadcast
    # at runtime from the ACTUAL built size, but a forced hint dies
    # when the vocabulary genuinely explodes (the x100-mutated
    # salted-token corpus — and 100 TB of web text — both have
    # vocabularies past the 8 GB broadcast cap); the 1-row total stays
    # hinted
    scored = tf.join(uni, "w").join(F.broadcast(tot))
    bits = -F.sum(
        F.col("cnt") * F.log2(F.col("cw").cast("double") / F.col("n"))
    ) / F.sum("cnt")
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.round(bits, 6).alias("bits_per_token"),
    )


# C4-style blocklist filtering: a small embedded wordlist stands in for
# the production list (the mechanism — token-set intersection against a
# broadcast list, doc-level drop decision — is what's under test; the
# real list is a config file). Tokens, not substrings: 'assess' must not
# trip a block on 'ass'.
# two fixture-vocabulary tokens included so the filter demonstrably
# discriminates on the synthetic corpus (block rates > 0)
_BLOCKLIST = ("casino", "viagra", "lottery", "jackpot", "merge")


@query(
    "text_blocklist_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_SQL_TOKENS.format(c='text')} AS toks
      FROM documents
    ), flagged AS (
      SELECT doc_id, source,
             len(list_filter(toks,
                 w -> list_contains({list(_BLOCKLIST)!r}, w))) AS n_hits
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits
    FROM flagged GROUP BY source
    """,
    description="Blocklist (badwords) filter — the C4-style corpus "
    "cleaning stage: token-level membership against a broadcast "
    "wordlist (token match, not substring — 'assess' does not trip "
    "'ass'), per-source block rates as the audit output. At 100 TB the "
    "list broadcasts and the scan stays a narrow map; the real list is "
    "a config input, the embedded one exercises the mechanism. "
    "Oracle-exact.",
    tags=("text", "pipeline"),
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    bl = F.array(*[F.lit(w) for w in _BLOCKLIST])
    n_hits = F.size(
        F.filter(toks, lambda w: F.array_contains(bl, w))
    )
    flagged = d.select("doc_id", "source", n_hits.alias("n_hits"))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0)).alias(
            "n_blocked"
        ),
        F.sum("n_hits").alias("total_hits"),
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: hashed linear (fastText-style) scorer
# ---------------------------------------------------------------------------

_HLS_BUCKETS = 4096  # hashed feature space (2^12)


def _hls_wnum_spark(bucket_expr: str) -> str:
    """Deterministic integer pseudo-weight numerator in [-1000, 1000]
    per hash bucket (weight = numerator / 1000). A real deployment
    broadcasts a trained weights array indexed by the SAME bucket id;
    deriving from the bucket hash keeps this frozen model reproducible
    in both engines. INTEGER numerators make the per-doc sum
    order-independent — exact under any partitioning AND any UNNEST
    order on the oracle side."""
    from litebase_spark.functions.portable import h60_spark

    h = h60_spark(f"CONCAT('w_', CAST({bucket_expr} AS STRING))")
    return f"(({h}) % 2001 - 1000)"


def _hls_wnum_duck(bucket_expr: str) -> str:
    from litebase_spark.functions.portable import h60_duck

    h = h60_duck(f"'w_' || CAST({bucket_expr} AS VARCHAR)")
    return f"(({h}) % 2001 - 1000)"


def _hls_oracle() -> str:
    from litebase_spark.functions.portable import h60_duck

    bucket = f"({h60_duck('u')} % {_HLS_BUCKETS})"
    return f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ), fx AS (
      SELECT doc_id,
             list_concat(w,
               list_transform(range(1, len(w)),
                 i -> w[i] || '_' || w[i+1])) AS fs
      FROM tok WHERE len(w) > 0
    ), feats AS (
      SELECT doc_id, UNNEST(fs) AS u, len(fs) AS n FROM fx
    ), scored AS (
      SELECT doc_id,
             CAST(SUM({_hls_wnum_duck(bucket)}) AS DOUBLE)
               / 1000.0 / MAX(n) AS z
      FROM feats GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
           CAST(1.0 / (1.0 + exp(-z)) >= 0.5 AS BOOLEAN) AS kept
    FROM scored
    """


@query(
    "text_hashed_linear_score",
    oracle=_hls_oracle(),
    description="Model-based quality filter with the fastText/DCLM "
    "dataflow: unigram + bigram features hash into a fixed bucket "
    "space, the document score is a mean of per-bucket weights through "
    "a sigmoid, and documents below threshold are dropped. The weights "
    "here are a frozen deterministic pseudo-model (md5-derived per "
    "bucket, identical in the oracle); production swaps in a broadcast "
    "trained-weights array indexed by the same bucket id — the Spark "
    "dataflow (explode features -> per-doc sum -> sigmoid, one shuffle "
    "keyed by doc) is exactly what a real classifier costs at 100 TB. "
    "Fold order is fixed by per-doc feature position, so scores are "
    "oracle-exact.",
    tags=("text", "quality", "model"),
)
def text_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.functions.portable import h60_py

    d = load(spark, sf_dir, "documents")
    d = spread(d)
    w = tokens("text")
    feats = F.expr(
        "concat(w, transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), '_', element_at(w, i + 1))))"
    )
    # The per-bucket weight is a function of the BUCKET ID alone, and the
    # bucket space is bounded (4096) — so the inner md5
    # (h60('w_' || bucket)) is precomputed HERE into a plan-literal
    # weight array and the fold does one element_at instead of a second
    # md5 per feature. This is exactly the deployment shape the
    # description promises (broadcast trained-weights array indexed by
    # bucket id); h60_py is the Python twin of h60_spark, so every
    # weight is bit-identical to the expression it replaces (pinned by
    # the unchanged oracle, which still derives weights in SQL).
    # x100m warm 11.2 -> 6.6 s (OPTIMIZATION_r14.md).
    warr = F.lit(
        [h60_py(f"w_{i}") % 2001 - 1000 for i in range(_HLS_BUCKETS)]
    )

    def _wnum(u):
        h = F.conv(F.substring(F.md5(u), 1, 15), 16, 10).cast("long")
        return F.element_at(
            warr, (h % F.lit(_HLS_BUCKETS)).cast("int") + F.lit(1)
        ).cast("long")

    z = (
        F.aggregate(
            F.col("fs"), F.lit(0).cast("long"), lambda a, u: a + _wnum(u)
        ).cast("double")
        / 1000.0
        / F.size("fs")
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
    return (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") > 0)
        .select("doc_id", feats.alias("fs"))
        .select("doc_id", z.alias("z"))
        .select(
            "doc_id",
            F.round(prob, 6).alias("quality_prob"),
            (prob >= 0.5).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 (lexical) fused with embedding cosine (vector)
# ---------------------------------------------------------------------------

_RRF_K = 60
_HYBRID_POOL = 50  # depth of each ranked list entering the fusion
_HYBRID_TOP = 20


@query(
    "text_hybrid_retrieval",
    oracle=None,  # assembled below (needs similarity-module SQL pieces)
    description="Hybrid retrieval with reciprocal-rank fusion: the BM25 "
    "lexical ranking and an embedding-cosine ranking (query vector = "
    "vec 0, ids doc-aligned) each contribute 1/(60+rank) for their top-"
    f"{_HYBRID_POOL}; the fused top-{_HYBRID_TOP} is the result — the "
    "standard RAG retrieval shape. Both lists are TakeOrdered top-N "
    "(O(k) per partition, never a global window sort), the rank windows "
    "run on the N surviving rows, and the fusion is a tiny full-outer "
    "join — at 100 TB the only corpus-sized work is the two scoring "
    "maps. Ranks are taken over round-6 scores so they are "
    "engine-stable; oracle replays both rankings and the fusion "
    "exactly.",
    tags=("text", "similarity", "fts"),
)
def text_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from litebase_spark.operators.similarity import dot, norm2

    d = load(spark, sf_dir, "documents")
    d = spread(d)
    k1, b = _BM25_K1, _BM25_B
    terms = _BM25_QUERY_TERMS

    def tf_of(t):
        return F.size(F.filter("words", lambda w: w == t))

    # narrow (doc_id, dl, tf0..tfK) table materialized ONCE (r13): the
    # corpus stats and the scoring pass both consume it, and each
    # otherwise re-inlines the tokenize pass per execution. r14 scale
    # audit: O(n_docs) x ~18 B of longs — measured 54 MB at the x100m
    # point (~0.8% of the corpus bytes; tools/layers.py ckpt_MB),
    # the §8 lightweight-proxy shape rather than a corpus hazard.
    perdoc = d.select("doc_id", tokens("text").alias("words")).select(
        "doc_id",
        F.size("words").alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    ).localCheckpoint(eager=True)
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        s = idf * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
        parts.append(F.when(tf > 0, s).otherwise(F.lit(0.0)))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    any_tf = F.col("tf0")
    for i in range(1, len(terms)):
        any_tf = any_tf + F.col(f"tf{i}")
    lex_top = (
        perdoc.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_HYBRID_POOL)
    )
    lex = lex_top.withColumn(
        "rl",
        F.row_number().over(
            Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
        ),
    ).select("doc_id", "rl")

    e = load(spark, sf_dir, "embeddings")
    e = spread(e)
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm2(F.col("embedding")).alias("qn")
    )
    sim = dot(F.col("qv"), F.col("embedding")) / (
        F.col("qn") * norm2(F.col("embedding"))
    )
    vec_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(sim, 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(_HYBRID_POOL)
    )
    vec = vec_top.withColumn(
        "rv",
        F.row_number().over(
            Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        ),
    ).select("doc_id", "rv")

    fused = lex.join(vec, on="doc_id", how="full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.col("rl") + _RRF_K), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("rv") + _RRF_K), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.col("rl").alias("lex_rank"),
        F.col("rv").alias("vec_rank"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(
        _HYBRID_TOP
    )


def _hybrid_oracle() -> str:
    from litebase_spark.operators.similarity import DIM, _SQL_DOT, _SQL_NORM

    return f"""
    WITH tok AS (
        SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS words FROM documents
    ),
    doclen AS (SELECT doc_id, len(words) AS dl FROM tok),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM doclen
    ),
    tf AS (
        SELECT t.doc_id, u.term, COUNT(*) AS tf
        FROM tok t, UNNEST(t.words) AS u(term)
        WHERE u.term IN {_BM25_QUERY_TERMS!r}
        GROUP BY t.doc_id, u.term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    bm25 AS (
        SELECT tf.doc_id,
               ROUND(SUM(
                   LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * doclen.dl / stats.avgdl))
               ), 6) AS bm25
        FROM tf
        JOIN df USING (term)
        JOIN doclen ON doclen.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    lex AS (
        SELECT doc_id, rl FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                   AS rl
            FROM bm25)
        WHERE rl <= {_HYBRID_POOL}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               ROUND({_SQL_DOT.format(a='q.qv', b='e.embedding', n=DIM)}
                 / ({_SQL_NORM.format(a='q.qv', n=DIM)}
                    * {_SQL_NORM.format(a='e.embedding', n=DIM)}), 6)
                   AS cos_sim
        FROM embeddings e, q WHERE e.vec_id != 0
    ),
    vec AS (
        SELECT doc_id, rv FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
                   AS rv
            FROM cos)
        WHERE rv <= {_HYBRID_POOL}
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / (rl + {_RRF_K}), 0)
                     + COALESCE(1.0 / (rv + {_RRF_K}), 0), 6) AS rrf_score,
               rl AS lex_rank, rv AS vec_rank
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    )
    SELECT doc_id, rrf_score, lex_rank, vec_rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_HYBRID_TOP}
    """


from litebase_spark.catalog import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY["text_hybrid_retrieval"].oracle = _hybrid_oracle()


@query(
    "text_dup_5gram_fraction",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, u.gram
      FROM tok, UNNEST(list_transform(range(1, len(w) - 3),
                       i -> {_h60_duck("array_to_string(w[i:i+4], ' ')")})) AS u(gram)
      WHERE len(w) >= 5
    ),
    df AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY gram
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (ndocs >= 2) AS dup_grams,
           (COUNT(*) FILTER (ndocs >= 2) * 1000000) // COUNT(*)
               AS dup_frac_e6
    FROM g JOIN df USING (gram)
    GROUP BY doc_id
    ORDER BY dup_frac_e6 DESC, doc_id
    LIMIT 100
    """,
    description="Cross-document duplicate 5-gram fraction (the "
    "Gopher/MassiveText dup-ngram quality signal, computed corpus-wide "
    "rather than within-doc): word 5-grams via a JVM slice transform, "
    "one shuffle keyed by gram for the document-frequency aggregate, "
    "join back, per-doc coverage in integer e-6 fixed point (DIV, not "
    "double division — engine-identical, no rounding ties). Top-100 "
    "most-duplicated docs via TakeOrdered. At 100 TB the gram shuffle "
    "carries (hash, partial count) pairs and hot boilerplate grams are "
    "exactly the keys AQE skew-split handles.",
    tags=("text", "ngram", "dedup"),
)
def text_dup_5gram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    # hash each gram to the portable 60-bit BIGINT INSIDE the transform —
    # the same _h60 the oracle applies, so both engines group by the
    # identical function (a collision, however unlikely, merges the same
    # grams on both sides) and the gram shuffle carries an 8-byte key
    # instead of a ~40-byte string
    _gram_txt = "concat_ws(' ', slice(w, i, 5))"
    grams5 = F.expr(
        "transform(sequence(1, size(w) - 4), "
        f"i -> {_h60_spark(_gram_txt)})"
    )
    # tokenizer barrier + explode_outer (see text_containment_rare):
    # keeps the gram expression out of the scan-stage inferred filter
    # and off the single serialized fixture partition; size(w) >= 5
    # guarantees at least one 5-gram, so outer semantics are identical
    tw = d.select("doc_id", w.alias("w"))
    if tw.rdd.getNumPartitions() < 8:
        tw = tw.repartition(spark.sparkContext.defaultParallelism)
    # guard short docs via NULL grams inside the projection (a pushed
    # size(w) filter re-evaluates the tokenizer in the scan stage);
    # drop the NULL rows above the Generate where nothing can push down
    from pyspark.sql import Window

    # Collapse to (doc, gram, cnt) SCAN-SIDE (r14): the r13 shape
    # exploded every gram occurrence and paid a (doc, gram)-keyed
    # hash-aggregate exchange just to dedupe within-doc repeats. The
    # in-doc histogram is computable inside the projection — sort the
    # doc's gram-hash array, take positions where the value changes,
    # diff consecutive positions for counts — so the Generate emits
    # (doc, gram, cnt) rows that are ALREADY distinct per doc and the
    # first corpus exchange disappears (3 exchanges -> 2; the survivors
    # are the designed gram-keyed window and the final doc rollup).
    # Value-identical: same _h60 gram keys, cnt = in-doc occurrence
    # count either way; int64 sort order is total so the histogram is
    # deterministic.
    sorted_g = tw.select(
        "doc_id",
        F.when(F.size("w") >= 5, F.sort_array(grams5)).alias("s"),
    )
    starts = F.expr(
        "filter(sequence(1, size(s)), i -> i = 1 OR "
        "element_at(s, i) != element_at(s, i - 1))"
    )
    staged = sorted_g.select("doc_id", "s", starts.alias("st"))
    pairs = F.expr(
        "transform(sequence(1, size(st)), k -> struct("
        "element_at(s, element_at(st, k)) AS gram, "
        "CAST(IF(k = size(st), size(s) + 1, element_at(st, k + 1)) "
        "     - element_at(st, k) AS BIGINT) AS cnt))"
    )
    per = (
        staged.select(
            "doc_id", F.explode_outer(pairs).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .select("doc_id", F.col("p.gram").alias("gram"),
                F.col("p.cnt").alias("cnt"))
    )
    pf = per.withColumn(
        "ndocs", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        pf.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, F.col("cnt"))
                  .otherwise(F.lit(0))).alias("dup_grams"),
        )
        .select(
            "doc_id", "n_grams", "dup_grams",
            F.expr("(dup_grams * 1000000) DIV n_grams")
            .alias("dup_frac_e6"),
        )
        .orderBy(F.desc("dup_frac_e6"), "doc_id")
        .limit(100)
    )


@query(
    "text_substring_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ),
    occ AS (
      SELECT doc_id, len(w) AS n_tokens, u.pos,
             {_h60_duck("array_to_string(w[u.pos:u.pos+7], ' ')")} AS gh
      FROM tok, UNNEST(range(1, len(w) - 6)) AS u(pos)
      WHERE len(w) >= 8
    ),
    cnt AS (SELECT gh, COUNT(*) AS c FROM occ GROUP BY gh),
    dup AS (
      SELECT o.doc_id, o.n_tokens, o.pos, o.pos + 8 AS e
      FROM occ o JOIN cnt USING (gh) WHERE cnt.c >= 2
    ),
    isl AS (
      SELECT doc_id, n_tokens, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1)
                  THEN 1 ELSE 0 END AS ni
      FROM dup
    ),
    grp AS (
      SELECT doc_id, n_tokens, pos, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, n_tokens, island,
             MIN(pos) AS s, MAX(e) AS e2
      FROM grp GROUP BY doc_id, n_tokens, island
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(e2 - s) AS BIGINT) AS dup_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           (CAST(SUM(e2 - s) AS BIGINT) * 1000000) // MAX(n_tokens)
               AS dup_frac_e6
    FROM spans
    GROUP BY doc_id
    ORDER BY dup_frac_e6 DESC, doc_id
    LIMIT 100
    """,
    description="Exact duplicated-SUBSTRING span detection — the "
    "suffix-array exact-substring dedup signal (Lee et al. 2021, "
    "'Deduplicating Training Data Makes Language Models Better') "
    "re-expressed as distributed k-gram anchoring: every 8-token gram "
    "that occurs >= 2 times ANYWHERE in the corpus (cross- or "
    "within-document, matching the suffix-array criterion) anchors a "
    "duplicated interval [pos, pos+8); per-document overlapping/"
    "adjacent anchors merge into maximal spans via gaps-and-islands "
    "(running-max window, island id = prefix sum of gap starts) — so a "
    "30-token verbatim repeat reports as ONE 30-token span, not 23 "
    "grams. Output: per-doc merged span count, duplicated-token total "
    "and e-6 fixed-point coverage (DIV — engine-identical). The gram "
    "shuffle is keyed on the portable 60-bit md5-derived hash (8-byte "
    "BIGINT key, not the raw gram text — the exchange stays narrow at "
    "100 TB), and the occurrence count is an unordered window over that "
    "one exchange (no aggregate + join-back, no second tokenizer pass); "
    "per-doc merging is one window over only the anchored rows. Unlike "
    "text_chunk_dedup (fixed chunk boundaries) "
    "this finds duplicated spans at ARBITRARY offsets, the property "
    "that makes suffix-array dedup strictly stronger than chunk "
    "hashing.",
    tags=("text", "ngram", "dedup", "llm"),
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    gh8 = _h60_spark("concat_ws(' ', slice(w, i, 8))")
    grams8 = F.expr(
        "transform(sequence(1, size(w) - 7), "
        f"i -> struct(i AS pos, {gh8} AS gh))"
    )
    # tokenize BEFORE the repartition exchange and explode_OUTER after
    # it (see text_containment_rare): otherwise InferFiltersFromGenerate
    # pushes size(grams8) > 0 — with the tokenizer inlined per
    # element — through the exchange into the serialized fixture scan;
    # size(w) >= 8 guarantees grams8 non-empty, so outer is identical
    tw = d.select("doc_id", w.alias("w"))
    if tw.rdd.getNumPartitions() < 8:
        tw = tw.repartition(spark.sparkContext.defaultParallelism)
    # short docs guarded via NULL grams in the projection, not a
    # pre-explode filter (which pushes below the exchange with the
    # tokenizer inlined — a second full regex pass); NULL g rows drop
    # above the Generate
    occ = (
        tw.select(
            "doc_id",
            F.size("w").alias("n_tokens"),
            F.explode_outer(F.when(F.size("w") >= 8, grams8)).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select(
            "doc_id", "n_tokens",
            F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"),
        )
    )
    # occurrence count per gram as an unordered window over the
    # gh-keyed exchange — one pass over occ, where the round-3
    # aggregate + join-back formulation tokenized the corpus twice
    # (both join inputs recompute the occ subtree) and paid an extra
    # exchange re-shuffling occurrences to meet the counts
    dup = (
        occ.withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("c") >= 2)
        .select("doc_id", "n_tokens", "pos",
                (F.col("pos") + F.lit(8)).alias("e"))
    )
    ws = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.withColumn(
        "ni",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0),
    )
    grp = isl.withColumn(
        "island",
        F.sum("ni").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = grp.groupBy("doc_id", "n_tokens", "island").agg(
        F.min("pos").alias("s"), F.max("e").alias("e2")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e2") - F.col("s")).cast("bigint")
            .alias("dup_tokens"),
            F.max("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "doc_id", "n_spans", "dup_tokens", "n_tokens",
            F.expr("(dup_tokens * 1000000) DIV n_tokens")
            .alias("dup_frac_e6"),
        )
        .orderBy(F.desc("dup_frac_e6"), "doc_id")
        .limit(100)
    )


@query(
    "text_tfidf_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.term
      FROM (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w
            FROM documents), UNNEST(w) AS u(term)
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE tf.doc_id < 100 AND df.df * 2 <= n_docs
    ),
    ranked AS (
      SELECT doc_id, term, tf, df,
             ROUND(score, 6) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, rank
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    description="Per-document TF-IDF keyword extraction (top-3 terms per "
    "doc, ubiquitous terms with df > N/2 excluded): document frequency "
    "and corpus size come from the WHOLE corpus (one shuffle keyed by "
    "term over the deduped (doc, term) counts), the per-doc scoring "
    "joins only the selected docs' term rows against the df table, and "
    "ranking is a per-doc window — never a global sort. The classic "
    "keyword/feature signal for corpus exploration and labeling; ranks "
    "computed on the unrounded score with a term tie-break so they are "
    "engine-stable.",
    tags=("text", "tfidf", "keywords"),
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    # r14: the corpus-sized (doc, term) tf checkpoint is GONE (measured
    # 3.1 GB materialized at the x100m point — the largest corpus-sized
    # barrier in the repo, and the bounded-only law forbids it). The
    # three consumers never needed the corpus tf table:
    #  * df = docs-per-term == count over the per-doc-DISTINCT term
    #    explode — array_distinct runs scan-side, so the only
    #    corpus-growing exchange ships (term) partial counts
    #    (vocabulary-keyed, map-side combined), never (doc, term) rows;
    #  * n_docs rides the SAME aggregate as a sentinel term ('\\x00…'
    #    cannot collide: real tokens are [a-z0-9]+) appended once per
    #    tokenizable doc, so its df IS count_distinct(doc_id) over the
    #    old tf — one tokenize pass serves both, and the inner join on
    #    term drops the sentinel from scoring by construction;
    #  * the scoring tf only ever reads doc_id < 100, which now prunes
    #    AT THE SCAN (PushedFilters LessThan) instead of filtering the
    #    materialized corpus table.
    # The (term, df) table that IS materialized is vocabulary-sized —
    # the bounded class the law allows (the zipf/unigram-LM pattern):
    # measured 1.84 GB at the x100m point vs the 3.1 GB corpus tf it
    # replaces (the mutated replica inflates vocabulary ~linearly by
    # design — salted tokens; Zipf corpora grow sub-linearly, so the
    # gap widens with real data). Warm 5.84 -> 3.44 s at x100m.
    sent = "\x00n_docs"
    df_ = (
        d.select(F.array_distinct(tokens("text")).alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            F.explode(
                F.concat(F.col("ts"), F.array(F.lit(sent)))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=True)
    )
    # an ungrouped aggregate, so the broadcast side is a one-row scalar
    # (keys=[]) and the cross join below is a threshold, not a product
    n = df_.filter(F.col("term") == sent).agg(F.max("df").alias("n_docs"))
    tf = (
        d.filter(F.col("doc_id") < 100)
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    score = F.col("tf") * F.log(
        F.col("n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") * 2 <= F.col("n_docs"))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df",
                F.round("score", 6).alias("tfidf"), "rank")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Rare-shingle containment (asymmetric near-dup / quote detection)
# ---------------------------------------------------------------------------

_CONTAIN_DF_CAP = 50  # shingles seen in more docs carry no signal
_CONTAIN_THRESHOLD = 0.8


@query(
    "text_containment_rare",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, len(w) - 1),
                   i -> {{hduck}})) AS sh
        FROM (SELECT doc_id, {{tok}} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    rp AS (
        SELECT doc_id, s FROM (
          SELECT doc_id, u.s,
                 COUNT(*) OVER (PARTITION BY u.s) AS df
          FROM shingled, UNNEST(sh) AS u(s))
        WHERE df BETWEEN 2 AND {_CONTAIN_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_rare FROM rp GROUP BY doc_id),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM rp a JOIN rp b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.inter AS DOUBLE)
                 / LEAST(sa.n_rare, sb.n_rare), 6) AS containment
    FROM pair_inter p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.inter AS DOUBLE) / LEAST(sa.n_rare, sb.n_rare)
          >= {_CONTAIN_THRESHOLD}
    """.format(
        tok=_SQL_TOKENS.format(c="text"),
        hduck=_h60_duck("w[i] || ' ' || w[i+1] || ' ' || w[i+2]"),
    ),
    description="Asymmetric containment near-dup: C(A,B) = |rare(A) n "
    "rare(B)| / min(|rare(A)|, |rare(B)|) over distinct 3-word "
    "shingles, catching the pair Jaccard misses — a short document "
    "quoted inside a much longer one (union-normalized similarity "
    "vanishes as the long side grows; containment stays 1.0). The "
    "scale fix dedup_ngram_jaccard's docstring only promises is "
    "IMPLEMENTED here: a document-frequency cap (2..50) drops "
    "boilerplate shingles BEFORE the pair join, so the worst posting "
    "list is 50 docs and the self-join's hottest key yields at most "
    "50^2 candidates — the quadratic blowup on stop-shingles is "
    "structurally impossible, and the df filter is itself one "
    "map-side-combining groupBy on the shingle digest.",
    tags=("text", "dedup"),
)
def text_containment_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    gram = (
        "concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
        " element_at(w, i + 2))"
    )
    # Tokenize BEFORE the exchange: the shuffle materializes the token
    # array as a physical column, so the shingle lambda's three
    # element_at(w, ...) hit an attribute. Without the barrier,
    # CollapseProject inlines the regexp tokenizer into every lambda
    # access — the regex re-splits the document 3x PER SHINGLE
    # (measured 11 s vs ~1 s at sf0.1 for this stage alone). The
    # exchange doubles as the parallelism fix for single-row-group
    # fixture scans.
    tok = d.select("doc_id", tokens("text").alias("w"))
    if tok.rdd.getNumPartitions() < 8:
        tok = tok.repartition(spark.sparkContext.defaultParallelism)
    # short docs guarded via NULL sh inside the projection — a
    # pre-explode size(w) filter is pushed below the exchange with the
    # tokenizer inlined, costing a second full regex pass over the
    # corpus; the NULL rows drop at the post-Generate isNotNull below
    shingled = tok.select(
        "doc_id",
        F.when(
            F.size("w") >= 3,
            F.expr(
                "array_distinct(transform(sequence(1, size(w) - 2),"
                f" i -> {_h60_spark(gram)}))"
            ),
        ).alias("sh"),
    )
    # explode_OUTER, deliberately: a plain explode triggers
    # InferFiltersFromGenerate, whose size(sh) > 0 predicate is pushed
    # below the exchange into the single-partition scan — where sh's
    # whole shingle expression re-evaluates serialized (measured 10.2 s
    # vs 1.2 s for this stage at sf0.1). size(w) >= 3 already
    # guarantees sh is non-empty, so outer semantics are identical.
    postings = shingled.select(
        "doc_id", F.explode_outer("sh").alias("s")
    ).filter(F.col("s").isNotNull())
    # df via an unordered window over the shingle exchange — one
    # shuffle of (int64, int64) postings, no groupBy + join-back; the
    # 60-bit portable hash keeps the exchange and the pair-join compares
    # on longs, never 32-char digests
    # Materialize the rare-shingle postings ONCE: sizes, and both pair
    # sides consume rp, and without the barrier the whole tokenize ->
    # shingle -> explode -> df-window subtree is re-inlined into each
    # consumer (history/plans/r13/text_containment_rare_before.txt: 8 parquet
    # scans, 4 Window sorts over the full posting set per execution).
    # rp is the df-capped posting slice (2..50 docs/shingle) — the
    # bounded index table this operator's design doc promises.
    rp = postings.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).filter(
        (F.col("df") >= 2) & (F.col("df") <= _CONTAIN_DF_CAP)
    ).select("doc_id", "s").localCheckpoint(eager=True)
    sizes = rp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rare"))
    a = rp.alias("a")
    b = rp.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    cont = F.col("inter").cast("double") / F.least(
        F.col("sa.n_rare"), F.col("sb.n_rare")
    )
    return (
        pair_inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(cont >= _CONTAIN_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (round 8)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # gram-hash window width (guarantee: of any W consecutive
#                grams, at least one is selected — the MOSS density bound)


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {{toks}} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, len(w) - 2 AS n_grams, u.pos,
             {{h}} AS h
      FROM tok, UNNEST(range(1, len(w) - 1)) AS u(pos)
      WHERE len(w) >= 6
    ),
    sel AS (
      SELECT doc_id, n_grams, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
               AS fp
      FROM g
    )
    SELECT doc_id, fp, COUNT(*) AS n_sel
    FROM sel WHERE pos <= n_grams - {_WINNOW_W - 1}
    GROUP BY doc_id, fp
    """.format(
        toks=_SQL_TOKENS.format(c="text"),
        h=_h60_duck("w[u.pos] || ' ' || w[u.pos+1] || ' ' || w[u.pos+2]"),
    ),
    description="Winnowing document fingerprints (Schleimer/Wilkerson/"
    "Aiken, the MOSS algorithm): hash every 3-token shingle to the "
    "portable 60-bit BIGINT, slide a width-4 window over the gram-hash "
    "sequence, and select each window's MINIMUM — the classic "
    "guarantee that any shared run of >= w+k-1 tokens yields at least "
    "one shared selected fingerprint, at ~2/(w+1) the density of full "
    "shingling. Strictly stronger than text_fingerprint (one global "
    "min per doc) for local-overlap detection, and the selected-set "
    "size is tunable via w rather than corpus-dependent. Plan: "
    "tokenize-before-exchange with the NULL-array short-doc guard "
    "(single tokenizer pass — the round-8 recipe), posexplode_outer, "
    "then ONE doc-keyed exchange serves the sliding-min window, and "
    "the (doc, fp) rollup collapses map-side. Reference parity: the "
    "reference has no fingerprinting at all — net-new LLM-dedup "
    "surface.",
    tags=("text", "dedup", "llm"),
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    gram = (
        "concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
        " element_at(w, i + 2))"
    )
    tw = d.select("doc_id", w.alias("w"))
    if tw.rdd.getNumPartitions() < 8:
        tw = tw.repartition(spark.sparkContext.defaultParallelism)
    grams = F.expr(
        f"transform(sequence(1, size(w) - 2), i -> {_h60_spark(gram)})"
    )
    # r14: the whole selection is PER-DOCUMENT — the sliding min runs
    # over the doc's own gram sequence and the (fp, n_sel) rollup keys
    # on (doc, fp) — so nothing needs to leave the scan stage: the r8
    # shape exploded every gram and paid a doc-keyed exchange + window
    # sort just to slide a width-4 min over an array it already had.
    # Compute the per-position mins scan-side (least of 4 element_at),
    # histogram them with the sorted-array trick (see
    # text_dup_5gram_fraction), and emit (doc, fp, n_sel) rows that are
    # already the result: ZERO exchanges in the final plan (the
    # conditional spread() repartition fires only on single-split
    # fixture scans). Value-identical: same gram hashes, same window
    # positions 1..n_grams-3, min is order-free, and the (doc, fp)
    # groups are exactly the histogram's distinct values.
    # x100m A/B in OPTIMIZATION_r14.md.
    mins = F.expr(
        f"transform(sequence(1, size(g) - {_WINNOW_W - 1}), i -> "
        + "least("
        + ", ".join(
            f"element_at(g, i + {k})" for k in range(_WINNOW_W)
        )
        + "))"
    )
    staged = tw.select(
        "doc_id", F.when(F.size("w") >= 6, grams).alias("g")
    ).select("doc_id", F.sort_array(mins).alias("s"))
    starts = F.expr(
        "filter(sequence(1, size(s)), i -> i = 1 OR "
        "element_at(s, i) != element_at(s, i - 1))"
    )
    pairs = F.expr(
        "transform(sequence(1, size(st)), k -> struct("
        "element_at(s, element_at(st, k)) AS fp, "
        "CAST(IF(k = size(st), size(s) + 1, element_at(st, k + 1)) "
        "     - element_at(st, k) AS BIGINT) AS n_sel))"
    )
    return (
        staged.select("doc_id", "s", starts.alias("st"))
        .select("doc_id", F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("doc_id", F.col("p.fp").alias("fp"),
                F.col("p.n_sel").alias("n_sel"))
    )


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT u.w AS term
      FROM documents, UNNEST({_SQL_TOKENS.format(c='text')}) AS u(w)
    ),
    tf AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
    top AS (
      SELECT term, n FROM tf ORDER BY n DESC, term LIMIT 500
    ),
    pts AS (
      SELECT ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk, n
      FROM top
    ),
    acc AS (
      SELECT COUNT(*) AS k,
             SUM(CAST(ROUND(LN(CAST(rnk AS DOUBLE)), 9)
                 AS DECIMAL(38,9))) AS sx,
             SUM(CAST(ROUND(LN(CAST(n AS DOUBLE)), 9)
                 AS DECIMAL(38,9))) AS sy,
             SUM(CAST(ROUND(LN(CAST(rnk AS DOUBLE))
                            * LN(CAST(n AS DOUBLE)), 9)
                 AS DECIMAL(38,9))) AS sxy,
             SUM(CAST(ROUND(LN(CAST(rnk AS DOUBLE))
                            * LN(CAST(rnk AS DOUBLE)), 9)
                 AS DECIMAL(38,9))) AS sxx
      FROM pts
    ),
    fit AS (
      SELECT k,
             (k * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (k * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM acc
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tf) AS vocab_size,
           CAST(k AS BIGINT) AS k_fit,
           ROUND(-slope, 6) AS zipf_exponent,
           ROUND((syd - slope * sxd) / k, 6) AS intercept_ln
    FROM fit
    """,
    description="Zipf's-law exponent of the corpus unigram frequency "
    "distribution: OLS fit of ln(freq) on ln(rank) over the top-500 "
    "terms — natural language sits near exponent 1.0; templated, "
    "boilerplate-heavy, or synthetic corpora drift far from it, "
    "making this the distribution-shape companion to "
    "text_unigram_logppl (per-doc) and text_repetition_ratio "
    "(per-doc): ONE number that audits the WHOLE corpus's lexical "
    "statistics. Corpus-scale work is the tokenize + term-keyed "
    "count (explode keyed by term, partial counts map-side — the "
    "same shuffle profile as text_topk_bigrams); ranking and the "
    "regression run over the bounded top-500 table (TakeOrdered, "
    "ties broken by term so ranks are total). Per-point ln "
    "products are ROUND(..,9) into DECIMAL(38,9) (the PSI "
    "convention: identical IEEE products, cross-point sum made "
    "order-free), closing slope/intercept arithmetic is one "
    "identical IEEE sequence, final round 6. Reference parity: "
    "net-new corpus-analysis surface.",
    tags=("text", "stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    # term-frequency table materialized ONCE (r13): vocab_size and the
    # top-500 cut both consume tf, and each consumer otherwise
    # re-inlines the tokenize+count corpus pass (2 parquet scans per
    # execution); tf is the vocabulary-sized table the fts index
    # already persists (same convention as text.py's bm25 tf)
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    vocab = tf.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    top = tf.orderBy(F.desc("n"), "term").limit(500)
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.desc("n"), "term")
    pts = top.select(
        F.row_number().over(w_rank).alias("rnk"), F.col("n")
    )
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    d9 = "decimal(38,9)"
    acc = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.round(lx, 9).cast(d9)).alias("sx"),
        F.sum(F.round(ly, 9).cast(d9)).alias("sy"),
        F.sum(F.round(lx * ly, 9).cast(d9)).alias("sxy"),
        F.sum(F.round(lx * lx, 9).cast(d9)).alias("sxx"),
    )
    slope = (
        F.col("k") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("k") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    fit = acc.select(
        F.col("k"),
        slope.alias("slope"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
    )
    return fit.crossJoin(vocab).select(
        "vocab_size",
        F.col("k").cast("long").alias("k_fit"),
        F.round(-F.col("slope"), 6).alias("zipf_exponent"),
        F.round(
            (F.col("syd") - F.col("slope") * F.col("sxd")) / F.col("k"),
            6,
        ).alias("intercept_ln"),
    )


@query(
    "text_lexical_diversity",
    oracle=f"""
    WITH tok AS (
      SELECT d.source, u.w AS term
      FROM documents d,
           UNNEST({_SQL_TOKENS.format(c='d.text')}) AS u(w)
    ),
    tf AS (
      SELECT source, term, COUNT(*) AS n_t
      FROM tok GROUP BY source, term
    ),
    agg AS (
      SELECT source,
             CAST(SUM(n_t) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             SUM(CAST(n_t AS HUGEINT) * (n_t - 1)) AS rep2,
             CAST(SUM(CASE WHEN n_t = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax
      FROM tf GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
           ROUND(CAST(rep2 AS DOUBLE)
                 / CAST(CAST(n_tokens AS HUGEINT)
                        * (n_tokens - 1) AS DOUBLE), 9) AS simpson_d,
           ROUND(CAST(hapax AS DOUBLE) / n_types, 6) AS hapax_ratio
    FROM agg ORDER BY source
    """,
    description="Per-source lexical-diversity audit: type-token ratio, "
    "Simpson repeat-probability D = sum n_t(n_t-1) / (N(N-1)) (the "
    "chance two random tokens from the source are the same type — "
    "boilerplate and template farms score high), and the hapax "
    "ratio (share of once-only types — OCR noise and random-string "
    "spam score high) — three corpus-health numbers per source that "
    "the per-doc gates (text_repetition_ratio, text_quality_score) "
    "cannot see because they aggregate ACROSS documents. "
    "Corpus-scale work is tokenize + ONE (source, term)-keyed count "
    "(explode, partial counts map-side — the text_topk_bigrams "
    "shuffle profile) followed by a source-keyed rollup onto "
    "O(sources * types) cells; every statistic is exact integer "
    "arithmetic (repeat mass in DECIMAL(38,0)/HUGEINT — n_t^2 "
    "overflows int64 on a 100 TB hot term) with one final identical "
    "IEEE divide per column. Reference parity: net-new "
    "corpus-analysis surface.",
    tags=("text", "stats"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    tf = (
        d.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    dec = "decimal(38,0)"
    nt = F.col("n_t")
    agg = tf.groupBy("source").agg(
        F.sum("n_t").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(nt.cast(dec) * (nt - 1)).alias("rep2"),
        F.sum(F.when(nt == 1, 1).otherwise(0)).cast("long").alias(
            "hapax"
        ),
    )
    n = F.col("n_tokens")
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / n, 6).alias("ttr"),
        F.round(
            F.col("rep2").cast("double")
            / (n.cast(dec) * (n - 1)).cast("double"),
            9,
        ).alias("simpson_d"),
        F.round(
            F.col("hapax").cast("double") / F.col("n_types"), 6
        ).alias("hapax_ratio"),
    ).orderBy("source")


@query(
    "text_bigram_logppl",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, u.b
      FROM tok, UNNEST(list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1]))
             AS u(b)
      WHERE len(w) > 1
    ),
    bf AS (
      SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY doc_id, b
    ),
    lm AS (
      SELECT b, CAST(SUM(cnt) AS BIGINT) AS cb FROM bf GROUP BY b
    ),
    ctx AS (
      SELECT split_part(b, ' ', 1) AS w1,
             CAST(SUM(cb) AS BIGINT) AS cl
      FROM lm GROUP BY 1
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
           ROUND(-CAST(SUM(CAST(ROUND(
                     cnt * log2(CAST(cb AS DOUBLE) / cl), 9)
                   AS DECIMAL(38,9))) AS DOUBLE) / SUM(cnt),
                 6) AS bits_per_bigram
    FROM bf
    JOIN lm USING (b)
    JOIN ctx ON split_part(b, ' ', 1) = ctx.w1
    GROUP BY doc_id
    """,
    description="Bigram-LM cross-entropy quality signal — the "
    "second-order companion to text_unigram_logppl: the corpus "
    "trains its own bigram MLE p(w2|w1) = c(w1 w2) / c(w1 .) (no "
    "smoothing needed because the corpus scores itself, so every "
    "scored bigram has count >= 1), and each document is scored in "
    "bits/bigram. Unigram ppl catches rare WORDS; bigram ppl "
    "catches improbable TRANSITIONS — shuffled/templated/generated "
    "text with common words in unnatural order scores high on this "
    "and normal on the unigram gate, which is exactly the gap CCNet "
    "plugs with a real LM. Dataflow: adjacent-pair explode collapses "
    "immediately to per-(doc, bigram) counts (map-side combine — "
    "the heavy shuffle is bf, not raw pairs); the LM count c(w1 w2) "
    "and the left-context marginal c(w1 .) are then WINDOW sums over "
    "bf — NOT aggregate+join-back, so the tokenize-explode chain is "
    "computed ONCE (the q15 lesson: a second aggregate consumer "
    "recomputes the corpus scan because ReuseExchange does not fire "
    "under AQE; interleaved x4 A/B: join-back 1.24 s vs windows "
    "1.08 s at sf0.1) and there is no broadcast-threshold dependence "
    "at any scale. r13: both windows share ONE exchange + ONE sort — "
    "w1 is a function of the bigram, so hashpartitioning(w1) "
    "clusters (w1, b) too (subset rule), and giving the c(w1 .) "
    "window an ORDER BY b with an unbounded rows frame (value- "
    "identical) makes both specs demand the same (w1, b) sort, so "
    "the planner elides the second one (before: separate by-bigram "
    "and by-left-word exchanges, 2 sorts). Skew ceiling unchanged: "
    "the by-left-word partitioning was already the widest key. Both "
    "window keys are vocabulary-cardinality — never a single "
    "reducer. Reference parity: net-new text-quality surface.",
    tags=("text", "pipeline"),
)
def text_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    w = tokens("text")
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    bg = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") > 1)
        .select("doc_id", F.explode(bigrams).alias("b"))
    )
    bf = (
        bg.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("w1", F.split_part(F.col("b"), F.lit(" "), F.lit(1)))
        .repartition(F.col("w1"))
    )
    from pyspark.sql import Window

    # hashpartitioning(w1) clusters (w1, b) as well (w1 determines the
    # prefix of b), so both LM windows run on the one exchange above;
    # the ORDER BY b + unbounded rows frame on the marginal window is
    # value-identical to an unordered spec but makes both windows
    # require the same (w1, b) sort, so only one Sort is planned.
    wb = Window.partitionBy("w1", "b")
    wl = (
        Window.partitionBy("w1")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    scored = bf.select(
        "doc_id",
        "cnt",
        F.sum("cnt").over(wb).alias("cb"),
        F.sum("cnt").over(wl).alias("cl"),
    )
    # per-term ROUND(..,9) -> DECIMAL(38,9) accumulation (the repo-wide
    # convention): exact, order-free summation so cross-engine /
    # cross-partition float ordering can never flip the round-6 output
    # on boundary docs
    term = F.round(
        F.col("cnt")
        * F.log2(F.col("cb").cast("double") / F.col("cl")),
        9,
    ).cast("decimal(38,9)")
    bits = -F.sum(term).cast("double") / F.sum("cnt")
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.round(bits, 6).alias("bits_per_bigram"),
    )


def _vocab_porter_oracle() -> str:
    from litebase_spark.functions.porter import porter_duckdb_cte

    stems = porter_duckdb_cte("SELECT DISTINCT term AS tok FROM tf", "tok")
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS.format(c='text')}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2
    ),
    stems AS ({stems}),
    ds AS (
      SELECT doc_id, stem, SUM(c) AS c
      FROM tf JOIN stems ON tf.term = stems.tok
      GROUP BY 1, 2
    )
    SELECT stem AS term,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM ds GROUP BY 1 ORDER BY 1
    """


@query(
    "fts_vocab_porter",
    oracle=_vocab_porter_oracle(),
    description="fts5vocab('row')-analog introspection of the "
    "porter-stemmed inverted index: per stemmed term, the number of "
    "documents containing it and its total occurrence count — the "
    "FTS5 vocabulary virtual table that ships with the reference's "
    "SQLITE_ENABLE_FTS5 build (pkg/sqlite3/sqlite3.go:20; "
    "sqlite.org/fts5.html#the_fts5vocab_virtual_table_module), over "
    "the tokenize='porter' index surface added in round 11. Plan: "
    "term-frequency pre-agg (map-side combine onto (doc, term)), "
    "stem the DISTINCT VOCABULARY via the staged porter chain and "
    "join the term->stem map back (stemming is O(|vocab|); AQE "
    "broadcasts the map when its built size fits — never forced, a "
    "corpus-scale vocabulary must be allowed to shuffle), "
    "re-aggregate (doc, stem) so two surface forms of one stem in a "
    "doc count once for n_docs, then one vocabulary-keyed rollup. "
    "Never a posting-side stem, never a single-reducer stage.",
    tags=("text", "fts"),
)
def fts_vocab_porter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.functions.porter import stem_vocabulary

    d = load(spark, sf_dir, "documents")
    d = spread(d)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    # r14 exchange plan (guide §2.4 — operations keyed the same way
    # share one exchange): the token stream is hash-repartitioned by
    # TERM once; HashPartitioning(term) satisfies both the
    # (doc_id, term) pre-agg's clustering and the term-keyed stem
    # join, so the r13 plan's separate by-(doc,term) and by-term
    # exchanges collapse into one (45M raw token rows cross it vs the
    # r13 plan's 30M + 30M agged rows — fewer total row-movements and
    # one fewer stage barrier; measured equal at x100m where agg CPU
    # dominates, structurally fewer exchanges at scale). An
    # all-int-keyed variant (xxhash64(term)/(stem) through the whole
    # midsection, strings re-attached vocab-sized at the end) was
    # A/B'd and LOST (~22 -> ~25-30 s at x100m): the re-attachment
    # dedupe + join + the unavoidable final string sort cost more
    # than int sorts save — receipt in OPTIMIZATION_r14.md.
    tf = (
        toks.repartition(F.col("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Vocabulary straight from the token stream, NOT from tf: distinct
    # over raw tokens gets a MAP-SIDE partial distinct that collapses
    # the corpus to vocabulary size before its exchange, whereas
    # tf.select("term") re-runs the corpus-scale (doc, term) pre-agg a
    # second time just to throw the doc axis away (the two subtrees
    # prune differently, so ReuseExchange never fires — measured at
    # ×100-mutated: the duplicated pre-agg pushed the query past 13
    # minutes; this shape stems the 18.4M-term vocabulary in ~40 s).
    stems = stem_vocabulary(toks.select("term"), "term", "stem")
    # No forced broadcast: unlike fts_match's query-pruned map (a
    # handful of rows), this is the FULL term->stem vocabulary — on the
    # x100-mutated replica (~linearly inflated vocab) the hint made the
    # driver build a >8 GB broadcast and die ("Not enough memory to
    # build and broadcast"). stems is the one checkpointed bounded
    # table here (see stem_vocabulary), so AQE reads its true built
    # size and still promotes the join to broadcast when it fits (it
    # does at every oracle SF); at corpus scale the map is allowed to
    # shuffle. The stem chain inside that checkpoint runs unbarriered
    # (r13): one job, no per-2-stage block-manager round-trips.
    # Join strategy stays SORT-MERGE (a SHUFFLE_HASH hint on the stems
    # side was A/B'd at x100m and DIED: 32 concurrent unspillable
    # build maps over the 18.4M-term vocabulary exhaust execution
    # memory — 'not enough memory to build hash map'; SMJ spills
    # gracefully, guide §3.1's stated risk, receipt kept in
    # OPTIMIZATION_r14.md). At oracle SFs AQE promotes to broadcast.
    # The (doc, stem) re-agg is keyed by STEM only —
    # HashPartitioning(stem) satisfies the (doc_id, stem) clustering
    # AND the final vocabulary rollup's, so the rollup's exchange is
    # elided.
    ds = (
        tf.join(stems, "term")
        .select("doc_id", "stem", "c")
        .repartition(F.col("stem"))
        .groupBy("doc_id", "stem")
        .agg(F.sum("c").alias("c"))
    )
    return (
        ds.groupBy(F.col("stem").alias("term"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
        )
        .orderBy("term")
    )


@query(
    "fts_vocab_col",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, 'text' AS col,
             UNNEST({_SQL_TOKENS.format(c='text')}) AS term
      FROM documents
      UNION ALL
      SELECT doc_id, 'source',
             UNNEST({_SQL_TOKENS.format(c='source')})
      FROM documents
    ),
    pd AS (
      SELECT term, col, doc_id, COUNT(*) AS c
      FROM tok GROUP BY 1, 2, 3
    )
    SELECT term, col,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM pd GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description="fts5vocab('col')-analog introspection of a "
    "TWO-column FTS index (text, source): one row per term/column "
    "combination with the documents-containing and total-occurrence "
    "counts for that column — the per-column variant of the "
    "fts5vocab virtual table the reference's SQLITE_ENABLE_FTS5 "
    "build ships (pkg/sqlite3/sqlite3.go:20; "
    "sqlite.org/fts5.html#the_fts5vocab_virtual_table_module), "
    "completing the row/col/instance mode trio next to "
    "fts_vocab_porter ('row') and fts_vocab_instance. Plan: per-"
    "column token explodes union into one (term, col, doc) pre-agg "
    "(map-side combine), then one vocabulary-keyed rollup — "
    "output is O(|vocab| x n_cols), shuffles carry term keys only.",
    tags=("text", "fts"),
)
def fts_vocab_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    tok = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
        F.lit("text").alias("col"),
    ).unionAll(
        d.select(
            "doc_id",
            F.explode(tokens("source")).alias("term"),
            F.lit("source"),
        )
    )
    pd_ = tok.groupBy("term", "col", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        pd_.groupBy("term", "col")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
        )
        .orderBy("term", "col")
    )


_VOCAB_INSTANCE_TERMS = ("spark", "vector", "merge")


@query(
    "fts_vocab_instance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, 'text' AS col, t.term, t.off
      FROM (
        SELECT doc_id,
               UNNEST({_SQL_TOKENS.format(c='text')}) AS term,
               generate_subscripts(
                 {_SQL_TOKENS.format(c='text')}, 1) - 1 AS off
        FROM documents
      ) t
      UNION ALL
      SELECT doc_id, 'source', t.term, t.off
      FROM (
        SELECT doc_id,
               UNNEST({_SQL_TOKENS.format(c='source')}) AS term,
               generate_subscripts(
                 {_SQL_TOKENS.format(c='source')}, 1) - 1 AS off
        FROM documents
      ) t
    )
    SELECT term, doc_id, col, CAST(off AS BIGINT) AS off
    FROM tok
    WHERE term IN {_VOCAB_INSTANCE_TERMS!r}
    ORDER BY term, doc_id, col, off
    """,
    description="fts5vocab('instance')-analog: one row PER TOKEN "
    "INSTANCE — term, containing document, column, and 0-based "
    "token offset within that column — for a queried term set "
    "(instance mode is always probed with term constraints; an "
    "unconstrained instance table is the corpus itself), over the "
    "same two-column (text, source) index as fts_vocab_col. "
    "Offsets come from posexplode (the positional tokenizer view "
    "FTS5 keeps in its posting lists). Plan: narrow posexplode + "
    "isin(terms) prune in the scan stage; the only shuffle is the "
    "presentation sort.",
    tags=("text", "fts"),
)
def fts_vocab_instance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    inst = d.select(
        "doc_id",
        F.lit("text").alias("col"),
        F.posexplode(tokens("text")).alias("off", "term"),
    ).unionAll(
        d.select(
            "doc_id",
            F.lit("source"),
            F.posexplode(tokens("source")).alias("off", "term"),
        )
    )
    return (
        inst.filter(F.col("term").isin(list(_VOCAB_INSTANCE_TERMS)))
        .select("term", "doc_id", "col", F.col("off").cast("long"))
        .orderBy("term", "doc_id", "col", "off")
    )

"""Composed training-data pipeline: the north-star use case end-to-end.

Each stage exists as a standalone operator elsewhere (quality scoring,
language filter, exact near-dup removal, token accounting); this module
chains them into ONE declarative plan — the way a real 100 TB corpus
prep job runs — so Catalyst can fuse the stages: the tokenizer runs
once, filters collapse into the scan, and the only shuffle is the dedup
group-by. Compare with running four separate jobs: 4 scans, 4 plans, no
fusion.

Stage order matters at scale: cheap narrow filters (quality, language)
run BEFORE the shuffle-bearing dedup so the exchange moves only
surviving documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from litebase_spark.catalog import load, query, spread
from litebase_spark.functions.portable import h60_duck
from litebase_spark.operators.text import _SQL_TOKENS, tokens

MIN_TOKENS = 20
MIN_DISTINCT_RATIO = 0.30


@query(
    "pipeline_training_corpus",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, lang,
               len({_SQL_TOKENS.format(c='text')}) AS n_tokens,
               CAST(len(list_distinct({_SQL_TOKENS.format(c='text')})) AS DOUBLE)
                 / len({_SQL_TOKENS.format(c='text')}) AS distinct_ratio,
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
        FROM documents
        WHERE len({_SQL_TOKENS.format(c='text')}) >= {MIN_TOKENS}
    ),
    filtered AS (
        SELECT * FROM scored
        WHERE distinct_ratio >= {MIN_DISTINCT_RATIO} AND lang = 'en'
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(norm_text)
                                         ORDER BY doc_id) AS rn
            FROM filtered) WHERE rn = 1
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(distinct_ratio), 6) AS avg_distinct_ratio
    FROM deduped
    GROUP BY source
    ORDER BY source
    """,
    description="End-to-end training-corpus prep in one plan: tokenize -> "
    "quality filter (length + lexical diversity) -> language filter -> "
    "exact near-dup removal (md5 of normalized text, keep lowest doc_id) "
    "-> per-source corpus accounting. Narrow filters run before the dedup "
    "shuffle; the tokenizer materializes ONCE in its own projection (no "
    "reliance on CSE across aggregate expressions). The dedup is a "
    "map-side-combining groupBy(md5(norm_text)) + min(struct(...)) — the "
    "exchange carries a 32-char digest and four scalars, never the "
    "normalized document text, and partial aggregation collapses "
    "duplicates before the shuffle (the round-3 row_number window "
    "shuffled and sorted the full text). The oracle groups by the same "
    "md5, so both engines compute the identical function.",
    tags=("pipeline", "text", "dedup"),
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Only the CHEAP metadata filter (lang) goes before the tokenizer —
    # it pushes down to the scan for free. The token-derived predicates
    # (n_tokens, distinct_ratio) are functions of the text alone, hence
    # CONSTANT within a dedup group (same norm_text => same token list),
    # so they apply equivalently AFTER the dedup aggregate — where
    # Catalyst cannot push them back below the agg into the
    # single-row-group scan (the round-3 plan pushed
    # size(tokens(text)) >= 20 into the 1-partition scan, serializing
    # the tokenizer AND computing it twice).
    d = load(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    # the test fixtures are single-row-group files whose scan is ONE
    # partition — the tokenizer would serialize on one core without a
    # repartition. But repartitioning shuffles the full document TEXT
    # (the widest column), so when the scan already has enough
    # parallelism (real multi-file corpora always do), skip it:
    # measured 0.74 -> 0.64 s at the sf1 point, identical rows.
    if d.rdd.getNumPartitions() < 8:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    scored = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tokens"),
        (
            F.size(F.array_distinct(tokens("text"))).cast("double")
            / F.size(tokens("text"))
        ).alias("distinct_ratio"),
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("dig"),
    )
    # keep-lowest-doc_id dedup as an aggregate: min over a struct whose
    # first field is the unique doc_id == the window row_number pick,
    # but with map-side partial combine and a digest-keyed exchange
    deduped = scored.groupBy("dig").agg(
        F.min(
            F.struct("doc_id", "source", "n_tokens", "distinct_ratio")
        ).alias("s")
    )
    return (
        deduped.filter(
            (F.col("s.n_tokens") >= MIN_TOKENS)
            & (F.col("s.distinct_ratio") >= MIN_DISTINCT_RATIO)
        )
        .groupBy(F.col("s.source").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("s.n_tokens").alias("total_tokens"),
            F.round(F.avg("s.distinct_ratio"), 6).alias(
                "avg_distinct_ratio"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic train/test split
# ---------------------------------------------------------------------------

# hex threshold on the first 4 md5 nibbles: 0x1999/0x10000 ~ 9.99% test.
_SPLIT_HEX = "1999"


@query(
    "pipeline_train_test_split",
    oracle=f"""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_SPLIT_HEX}'
                THEN 'test' ELSE 'train' END AS split,
           source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split, source
    ORDER BY split, source
    """,
    description="Deterministic hash-based train/test split: md5(doc_id) hex "
    "prefix compared against a threshold — stable across runs, engines, and "
    "repartitioning (no rand()), so a re-run at 100 TB assigns every "
    "document to the same split. Narrow map + partial agg; the only "
    "exchange carries (split, source) partial sums. Per-source counts "
    "double as a leakage audit (every source present in both splits).",
    tags=("pipeline", "sampling"),
)
def pipeline_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    split = F.when(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4
        )
        < _SPLIT_HEX,
        "test",
    ).otherwise("train")
    return (
        d.groupBy(split.alias("split"), "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chop into fixed context windows)
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048  # tokens per training sequence


@query(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id, source,
               len({_SQL_TOKENS.format(c='text')}) AS n_tokens
        FROM documents
        WHERE len({_SQL_TOKENS.format(c='text')}) > 0
    ),
    placed AS (
        SELECT source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - n_tokens AS start_off
        FROM counted
    )
    SELECT source,
           CAST(floor(start_off / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM placed
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
    description="Sequence packing for training: concat-and-chop documents "
    "into fixed {PACK}-token context windows. Each doc's start offset is a "
    "running token sum partitioned by source (the shard key) — windows are "
    "per-shard, so the sort is distributed, never a single-partition global "
    "window. pack_id = start_offset div budget, the standard "
    "concatenate-then-split layout used by LLM pretraining loaders.",
    tags=("pipeline", "text"),
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = counted.select(
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off"),
    )
    return (
        placed.groupBy(
            "source",
            F.floor(F.col("start_off") / PACK_BUDGET)
            .cast("bigint")
            .alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# Domain-mixture rebalancing weights
# ---------------------------------------------------------------------------


@query(
    "pipeline_mixture_weights",
    oracle=f"""
    WITH grouped AS (
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_SQL_TOKENS.format(c='text')})) AS BIGINT)
                   AS total_tokens
        FROM documents
        GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_tokens,
           ROUND(CAST(total_tokens AS DOUBLE)
                 / SUM(total_tokens) OVER (), 6) AS token_share,
           ROUND((1.0 / COUNT(*) OVER ())
                 / (CAST(total_tokens AS DOUBLE)
                    / SUM(total_tokens) OVER ()), 6) AS sample_weight
    FROM grouped
    ORDER BY source, lang
    """,
    description="Domain-mixture rebalancing: per (source, lang) token "
    "accounting plus the sampling weight that equalizes the mixture "
    "(target uniform share / actual token share) — the knob a pretraining "
    "data loader uses to up/down-sample domains. One partial agg over the "
    "corpus; the window over the tiny grouped result is driver-scale.",
    tags=("pipeline", "sampling"),
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    grouped = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("total_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("total_tokens").cast("double") / F.sum(
        "total_tokens"
    ).over(w)
    weight = (F.lit(1.0) / F.count(F.lit(1)).over(w)) / share
    return grouped.select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(weight, 6).alias("sample_weight"),
    ).orderBy("source", "lang")


N_SHARDS = 16


@query(
    "pipeline_shard_manifest",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM s GROUP BY shard
    """,
    description="Training-shard manifest: every document assigned to one "
    "of N shards by the portable key hash (stable across runs, engines, "
    "repartitioning, and retries — the property a dataloader needs to "
    "resume mid-epoch), with per-shard size/byte/source stats as the "
    "manifest a loader consumes. The write side is "
    "df.repartitionByRange/partitionBy('shard') with this same key; at "
    "100 TB shard balance is the thing this query audits (hash gives "
    "~1/N +- sqrt; skew here means a bad key choice). Oracle-exact.",
    tags=("pipeline", "sharding"),
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.functions.portable import h60_spark

    d = load(spark, sf_dir, "documents")
    shard = F.expr(h60_spark("CAST(doc_id AS STRING)")) % N_SHARDS
    return (
        d.select("doc_id", "source", "n_chars", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer induction: distributed BPE merge learning
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 4


def bpe_learn_merges(words: DataFrame, rounds: int) -> list[tuple]:
    """Learn `rounds` BPE merges from (sym, cnt) word states, where sym
    is the space-joined symbol sequence (initially characters).

    Distributed shape: each round is ONE map-side-combinable pair-count
    aggregate over the word states (the 100 TB-heavy part) plus a
    single-row argmax collect (the centroid-collect pattern — O(rounds)
    driver rows total), then a narrow map applies the merge via
    non-overlapping left-to-right replace — the same greedy semantics
    BPE specifies and both engines' replace() implement. Ties break on
    (count DESC, pair ASC) so the learned merge list is deterministic
    and oracle-exact.
    """
    out = []
    states = words
    pairs = F.expr(
        "transform(sequence(1, size(split(sym, ' ')) - 1),"
        " i -> concat(element_at(split(sym, ' '), i), ' ',"
        " element_at(split(sym, ' '), i + 1)))"
    )
    for i in range(1, rounds + 1):
        states = states.localCheckpoint(eager=True)  # cut per-round lineage
        counts = (
            states.filter(F.size(F.split("sym", " ")) >= 2)
            .select(F.explode(pairs).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
        )
        best = counts.agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("neg"), F.col("pair").alias("pair")
                )
            ).alias("best")
        ).collect()[0]["best"]
        if best is None:
            break
        pair, n = best["pair"], -best["neg"]
        merged = pair.replace(" ", "")
        out.append((i, pair, int(n)))
        states = states.select(
            F.expr(
                "trim(replace(concat(' ', sym, ' '),"
                f" ' {pair} ', ' {merged} '))"
            ).alias("sym"),
            "cnt",
        )
    return out


def _bpe_ctes(rounds: int) -> list[str]:
    """The unrolled merge-learning CTE chain shared by the merges oracle
    and the encode oracle: w{i} = word states after i merges, b{i} = the
    i-th learned (pair, count)."""
    pair_list = (
        "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])"
    )
    ctes = [
        f"""w0 AS (
      SELECT array_to_string(string_split(word, ''), ' ') AS sym,
             COUNT(*) AS cnt
      FROM (SELECT UNNEST({_SQL_TOKENS.format(c='text')}) AS word
            FROM documents)
      GROUP BY word
    )"""
    ]
    for i in range(1, rounds + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""p{i} AS (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM (
        SELECT UNNEST({pair_list}) AS pair, cnt
        FROM (SELECT string_split(sym, ' ') AS w, cnt FROM {prev})
        WHERE len(w) >= 2
      ) GROUP BY pair
    ), b{i} AS (
      SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1
    ), w{i} AS (
      SELECT trim(replace(' ' || sym || ' ', ' ' || b{i}.pair || ' ',
               ' ' || replace(b{i}.pair, ' ', '') || ' ')) AS sym, cnt
      FROM {prev}, b{i}
    )"""
        )
    return ctes


def _bpe_oracle(rounds: int) -> str:
    selects = [
        f"SELECT {i} AS iteration, pair, n FROM b{i}"
        for i in range(1, rounds + 1)
    ]
    return (
        "\n    WITH "
        + ",\n    ".join(_bpe_ctes(rounds))
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


def _bpe_encode_oracle(rounds: int) -> str:
    """Relearn the merges (shared CTEs), then apply them to every document
    as the same chained left-to-right replace the engine runs: words are
    char-split and joined with a '_' separator token (outside the [a-z0-9]
    token alphabet, so merges can never cross word boundaries)."""
    expr = "' ' || base || ' '"
    for i in range(1, rounds + 1):
        expr = (
            f"replace({expr}, ' ' || b{i}.pair || ' ', "
            f"' ' || replace(b{i}.pair, ' ', '') || ' ')"
        )
    froms = ", ".join(f"b{i}" for i in range(1, rounds + 1))
    return (
        "\n    WITH "
        + ",\n    ".join(_bpe_ctes(rounds))
        + f""",
    base AS (
      SELECT doc_id, len(toks) AS n_words,
             array_to_string(list_transform(toks,
               w -> array_to_string(string_split(w, ''), ' ')), ' _ ')
               AS base
      FROM (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks
            FROM documents)
      WHERE len(toks) > 0
    ),
    enc AS (
      SELECT doc_id, n_words, trim({expr}) AS sym FROM base, {froms}
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(len(list_filter(string_split(sym, ' '), t -> t != '_'))
                AS BIGINT) AS n_tokens,
           md5(sym) AS enc_md5
    FROM enc"""
    )


@query(
    "pipeline_bpe_merges",
    oracle=_bpe_oracle(_BPE_ROUNDS),
    description="Tokenizer induction: learn the first 4 BPE merges from "
    "the corpus word distribution. Word counts shrink the problem to "
    "the vocabulary (one shuffle), then each round is one map-side-"
    "combinable pair-count aggregate + a single-row argmax + a narrow "
    "merge map (greedy left-to-right, the BPE contract) — at 100 TB "
    "the per-round cost is O(vocab), not O(corpus), because states are "
    "unique words weighted by count. Deterministic tie-break "
    "(count DESC, pair ASC) makes the merge list oracle-exact against "
    "a 4-stage unrolled DuckDB replay.",
    tags=("pipeline", "tokenizer"),
)
def pipeline_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    words = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.array_join(F.split("word", ""), " ").alias("sym"), "cnt"
        )
    )
    merges = bpe_learn_merges(words, _BPE_ROUNDS)
    return spark.createDataFrame(
        merges, "iteration int, pair string, n bigint"
    )


@query(
    "pipeline_bpe_encode",
    oracle=_bpe_encode_oracle(_BPE_ROUNDS),
    description="Tokenizer application: encode every document with the "
    "learned BPE merges. The merge list is O(rounds) driver-side state "
    "inlined as a literal JVM replace() chain, so encoding is ONE "
    "narrow map over the corpus — no shuffle, no Python, no join; at "
    "100 TB this is the shape a dataloader-prep tokenization pass must "
    "have (a real deployment persists the merges instead of relearning). "
    "Words are char-split and joined with a '_' separator outside the "
    "token alphabet so merges never cross word boundaries. Output is "
    "per-doc word/token counts plus an md5 digest of the full encoded "
    "token stream, oracle-exact against a relearn-and-replay in DuckDB.",
    tags=("pipeline", "tokenizer"),
)
def pipeline_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.array_join(F.split("word", ""), " ").alias("sym"), "cnt"
        )
    )
    merges = bpe_learn_merges(words, _BPE_ROUNDS)
    toks = tokens("text")
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.array_join(
            F.transform(
                toks, lambda w: F.array_join(F.split(w, ""), " ")
            ),
            " _ ",
        ).alias("base"),
    ).filter(F.col("n_words") > 0)
    enc = F.concat(F.lit(" "), F.col("base"), F.lit(" "))
    for _, pair, _ in merges:
        enc = F.replace(
            enc,
            F.lit(f" {pair} "),
            F.lit(f" {pair.replace(' ', '')} "),
        )
    sym = F.trim(enc)
    return base.select(
        "doc_id",
        "n_words",
        F.size(
            F.filter(F.split(sym, " "), lambda t: t != F.lit("_"))
        ).cast("long").alias("n_tokens"),
        F.md5(sym.cast("binary")).alias("enc_md5"),
    )


# ---------------------------------------------------------------------------
# Fused quality gate: all corpus filters in one pass with drop attribution
# ---------------------------------------------------------------------------


@query(
    "pipeline_quality_gate",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               w -> length(w) > 0) AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             len(toks) AS n_words,
             list_sum(list_transform(toks, w -> length(w))) * 1.0
               / len(toks) AS mwl,
             list_sum(list_transform(toks,
               w -> CASE WHEN regexp_matches(w, '[a-z]')
                    THEN 1 ELSE 0 END)) * 1.0 / len(toks) AS af,
             len(list_filter(toks, w -> w IN
               ('the','a','and','of','to','in'))) AS stop_hits,
             len(list_filter(toks, w -> w IN
               ('casino','viagra','lottery','jackpot','merge'))) AS block_hits,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
      FROM t
    ), reasons AS (
      SELECT source,
             CASE
               WHEN NOT (n_words BETWEEN 30 AND 100000
                         AND mwl BETWEEN 3.0 AND 10.0
                         AND af >= 0.8 AND stop_hits >= 2) THEN 'gopher'
               WHEN block_hits > 0 THEN 'blocklist'
               WHEN doc_id != canon_id THEN 'duplicate'
               ELSE 'kept'
             END AS verdict
      FROM m
    )
    SELECT source, verdict, COUNT(*) AS n_docs
    FROM reasons GROUP BY source, verdict
    """,
    description="Fused corpus quality gate: Gopher heuristics, the C4 "
    "blocklist, and exact dedup evaluated in ONE pass with first-"
    "failing-rule attribution (gopher -> blocklist -> duplicate -> "
    "kept), reported per source — the audit table a data pipeline "
    "publishes per ingestion batch. Heuristic rules are a narrow map; "
    "dedup adds the single md5-keyed window; the per-(source, verdict) "
    "rollup is a partial-aggregated shuffle. At 100 TB this replaces "
    "three separate filter scans with one.",
    tags=("pipeline", "quality"),
)
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    d = spread(d)
    toks = tokens("text")
    base = d.select("doc_id", "source", "text", toks.alias("toks"))
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
        F.filter(F.col("toks"), lambda w: w.isin("the", "a", "and", "of", "to", "in"))
    )
    block_hits = F.size(
        F.filter(
            F.col("toks"),
            lambda w: w.isin("casino", "viagra", "lottery", "jackpot", "merge"),
        )
    )
    canon = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    gopher_ok = (
        n_words.between(30, 100000)
        & mwl.between(3.0, 10.0)
        & (af >= 0.8)
        & (stop_hits >= 2)
    )
    verdict = (
        F.when(~gopher_ok, "gopher")
        .when(block_hits > 0, "blocklist")
        .when(F.col("doc_id") != canon, "duplicate")
        .otherwise("kept")
    )
    return (
        base.select("doc_id", "source", "text", "toks")
        .withColumn("canon_id", canon)
        .select("source", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Domain balancing + curriculum binning (corpus-mixing ops)
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 15


@query(
    "pipeline_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               len({_SQL_TOKENS.format(c='text')}) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY len({_SQL_TOKENS.format(c='text')})
                                  DESC, doc_id) AS rn
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > {_DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(MIN(CASE WHEN rn <= {_DOMAIN_CAP} THEN n_tokens END)
                AS BIGINT) AS min_kept_tokens
    FROM ranked
    GROUP BY source
    """,
    description="Per-domain document cap (RefinedWeb/C4-style domain "
    "balancing): rank documents within each source by token count and "
    "keep the top N, reporting kept/dropped counts and the kept-quality "
    "floor per domain. One shuffle: the rank window partitions by "
    "source and the per-source aggregate reuses that partitioning "
    "(Catalyst emits no second exchange). At 100 TB a pathologically "
    "large domain makes its rank sort the straggler; the swap-in is a "
    "two-phase partial top-N (per-partition top-N, then merge) which "
    "this op's aggregate shape already accommodates.",
    tags=("pipeline",),
)
def pipeline_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("n_tokens").desc(), F.col("doc_id")
            )
        ),
    )
    kept = F.col("rn") <= _DOMAIN_CAP
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
        F.min(F.when(kept, F.col("n_tokens"))).alias("min_kept_tokens"),
    )


@query(
    "pipeline_quality_bins",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len({_SQL_TOKENS.format(c='text')}) AS n_tokens,
               ROUND(CAST(len(list_distinct({_SQL_TOKENS.format(c='text')}))
                     AS DOUBLE)
                     / len({_SQL_TOKENS.format(c='text')}), 6) AS score
        FROM documents
        WHERE len({_SQL_TOKENS.format(c='text')}) > 0
    ),
    binned AS (
        SELECT n_tokens, score,
               NTILE(10) OVER (ORDER BY score, doc_id) AS bin
        FROM scored
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(score) AS min_score, MAX(score) AS max_score,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
           CAST(bin AS DOUBLE) / 10 AS sample_rate
    FROM binned
    GROUP BY bin
    """,
    description="Curriculum/quality binning: decile documents by lexical "
    "diversity (deterministic NTILE over (score, doc_id)) and emit each "
    "bin's document count, score range, token budget, and a "
    "quality-proportional sampling rate — the mixing table a curriculum "
    "dataloader consumes. The NTILE is the only global-sort shuffle; at "
    "100 TB the swap-in is approx_percentile bin edges (one aggregate) "
    "with a broadcast range join, trading exact decile boundaries for "
    "no global sort.",
    tags=("pipeline",),
)
def pipeline_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    scored = d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(w)).cast("double") / F.size(w), 6
        ).alias("score"),
    ).filter(F.col("n_tokens") > 0)
    binned = scored.withColumn(
        "bin",
        F.ntile(10).over(Window.orderBy(F.col("score"), F.col("doc_id"))),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        F.sum("n_tokens").alias("tok_sum"),
        (F.col("bin").cast("double") / 10).alias("sample_rate"),
    )


_K_ANON = 5


@query(
    "pipeline_k_anonymity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
           n >= {_K_ANON} AS k_ok
    FROM g
    """,
    description="k-anonymity audit over quasi-identifier groups "
    "(nation x market segment, k={k}): group sizes plus a suppression "
    "flag for groups smaller than k — the privacy gate a training-data "
    "release pipeline runs before shipping attributes. One "
    "map-side-combinable aggregate; the flagged groups drive either "
    "suppression (filter) or generalization (coarser quasi-identifier) "
    "upstream.".format(k=_K_ANON),
    tags=("pipeline", "privacy"),
)
def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            (F.col("n") >= _K_ANON).alias("k_ok"),
        )
    )


from litebase_spark.functions.portable import h60_duck, h60_spark  # noqa: E402


@query(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len({_SQL_TOKENS.format(c='text')}) AS n_tokens,
             (len(list_distinct({_SQL_TOKENS.format(c='text')})) * 1000000)
                 // len({_SQL_TOKENS.format(c='text')}) AS w_e6,
             {h60_duck("CAST(doc_id AS VARCHAR)")} % 1000000 AS u_e6
      FROM documents
      WHERE len({_SQL_TOKENS.format(c='text')}) > 0
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (u_e6 < w_e6 // 2) AS n_sampled,
           (SUM(w_e6 // 2)) // COUNT(*) AS expected_e6,
           (COUNT(*) FILTER (u_e6 < w_e6 // 2) * 1000000) // COUNT(*)
               AS realized_e6,
           CAST(COALESCE(SUM(n_tokens) FILTER (u_e6 < w_e6 // 2), 0)
               AS BIGINT) AS sampled_tokens
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
    description="Quality-weighted deterministic Bernoulli sampling — the "
    "corpus-curation primitive behind quality-proportional resampling "
    "(FineWeb/DCLM style: keep high-quality documents with higher "
    "probability instead of a hard threshold). Per-document inclusion "
    "probability = lexical-diversity weight / 2, decided by comparing a "
    "portable md5-derived uniform (h60 % 1e6) against the integer e-6 "
    "weight — no rand(), so the sample is IDENTICAL across runs, "
    "engines, partitionings, and re-executions at 100 TB (a re-run "
    "samples the same documents, which makes downstream caching and "
    "incremental builds sound). Entirely integer arithmetic; one narrow "
    "map + partial agg, the only exchange carries per-source partial "
    "sums. Output audits expected vs realized rate per source.",
    tags=("pipeline", "sampling", "llm"),
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    u = F.expr(h60_spark("CAST(doc_id AS STRING)")) % 1000000
    scored = (
        d.select(
            "doc_id",
            "source",
            F.size(w).alias("n_tokens"),
            F.size(F.array_distinct(w)).alias("n_distinct"),
            u.alias("u_e6"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "w_e6", F.expr("(n_distinct * 1000000) DIV n_tokens")
        )
    )
    keep = F.col("u_e6") < F.expr("w_e6 DIV 2")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep.cast("long")).alias("n_sampled"),
            F.expr("SUM(w_e6 DIV 2)").alias("_sw"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("bigint").alias("sampled_tokens"),
        )
        .select(
            "source", "n_docs", "n_sampled",
            F.expr("_sw DIV n_docs").alias("expected_e6"),
            F.expr("(n_sampled * 1000000) DIV n_docs")
            .alias("realized_e6"),
            "sampled_tokens",
        )
        .orderBy("source")
    )


N_EPOCHS = 2
N_EPOCH_SHARDS = 8


def _epoch_shuffle_oracle() -> str:
    h = h60_duck(
        "('ep' || CAST(e.epoch AS VARCHAR) || ':' "
        "|| CAST(d.doc_id AS VARCHAR))"
    )
    return f"""
    WITH e AS (SELECT UNNEST(range(0, {N_EPOCHS})) AS epoch),
    keyed AS (
        SELECT e.epoch, d.doc_id, {h} AS h
        FROM documents d CROSS JOIN e
    )
    SELECT epoch, h % {N_EPOCH_SHARDS} AS shard,
           COUNT(*) AS n_docs,
           CAST(MIN(h) AS BIGINT) AS first_key,
           CAST(MAX(h) AS BIGINT) AS last_key,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS first_doc
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY epoch, h % {N_EPOCH_SHARDS} ORDER BY h, doc_id
        ) AS rn
        FROM keyed
    )
    GROUP BY epoch, shard
    ORDER BY epoch, shard
    """


@query(
    "pipeline_epoch_shuffle",
    oracle=_epoch_shuffle_oracle(),
    description="Deterministic per-epoch training shuffle — the "
    "dataloader-order operator: for each epoch, every document gets a "
    "fresh portable-hash key h('ep<epoch>:<doc_id>'); shard = h mod "
    "N_SHARDS, within-shard read order = ascending h. No rand() "
    "anywhere, so the epoch-2 order is a different but REPRODUCIBLE "
    "permutation across runs, engines, and partitionings (the property "
    "resumable training jobs need). The shuffle is a plain hash "
    "exchange keyed (epoch, shard) with map-side combine for the "
    "manifest aggregate; writing the actual reordered shards is "
    "repartition(shard) + sortWithinPartitions(h) — one exchange per "
    "epoch at any scale. Output: per-(epoch, shard) manifest with "
    "boundary keys + the first document each shard reads (min_by h).",
    tags=("pipeline", "llm", "shuffle"),
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    h = F.expr(
        h60_spark(
            "CONCAT('ep', CAST(epoch AS STRING), ':', "
            "CAST(doc_id AS STRING))"
        )
    )
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch", "doc_id", h.alias("h")
    )
    return (
        keyed.groupBy("epoch", (F.col("h") % N_EPOCH_SHARDS).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("h").alias("first_key"),
            F.max("h").alias("last_key"),
            F.min_by("doc_id", F.struct("h", "doc_id")).cast("bigint")
            .alias("first_doc"),
        )
        .orderBy("epoch", "shard")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (data selection via hashed n-grams)
# ---------------------------------------------------------------------------
#
# Data Selection with Importance Resampling (Xie et al., 2023): score
# every RAW-pool document by how much its hashed n-gram feature
# distribution looks like a TARGET domain, then resample the pool by
# those weights. The 100 TB shape is exactly this: per-bucket counts are
# bounded state (_DSIR_BUCKETS rows, map-side combined), the per-doc
# score is one join against a broadcast 512-row ratio table plus a
# doc_id-keyed aggregation — no per-row Python, no model.
#
# Arithmetic stays in integer fixed point so the oracle is exact at any
# scale: per-bucket Laplace-smoothed shares scale to e9 BEFORE the
# divide ((ct+1)*1e9 stays < 2^63 for ct < 9.2e9 bucket occurrences),
# and the per-bucket ratio scales the numerator to e6. True DSIR sums
# log-ratios; the monotone integer ratio proxy keeps the ranking
# cross-engine exact, which log() bit-drift would not (documented
# deviation).

_DSIR_BUCKETS = 512
_DSIR_TARGET = "src1"


@query(
    "pipeline_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {_SQL_TOKENS.format(c='text')} AS w
      FROM documents
    ),
    occ AS (
      SELECT doc_id, source = '{_DSIR_TARGET}' AS is_t,
             {h60_duck('u.bg')} % {_DSIR_BUCKETS} AS bucket
      FROM tok, UNNEST(list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])) AS u(bg)
      WHERE len(w) > 1
    ),
    stats AS (
      SELECT bucket,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
      FROM occ GROUP BY bucket
    ),
    tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS rt FROM stats),
    ratios AS (
      SELECT bucket,
             ((ct + 1) * 1000000000) // (tt + {_DSIR_BUCKETS}) AS t_e9,
             GREATEST(((cr + 1) * 1000000000) // (rt + {_DSIR_BUCKETS}),
                      1) AS r_e9
      FROM stats, tot
    ),
    scored AS (
      SELECT o.doc_id, COUNT(*) AS n_bigrams,
             CAST(SUM((t_e9 * 1000000) // r_e9) AS BIGINT) AS score_e6
      FROM occ o JOIN ratios r ON o.bucket = r.bucket
      WHERE NOT o.is_t
      GROUP BY o.doc_id
    )
    SELECT doc_id, n_bigrams, score_e6
    FROM scored ORDER BY score_e6 DESC, doc_id LIMIT 50
    """,
    description="DSIR importance weights (Xie et al. 2023, data "
    "selection with importance resampling): hashed word-bigram features "
    f"({_DSIR_BUCKETS} buckets over the portable md5 hash), "
    "Laplace-smoothed target-vs-raw bucket shares in integer e9 fixed "
    "point, per-document score = sum of e6 bucket ratios over the "
    "document's bigrams, top-50 raw-pool docs by score. Bucket counts "
    "are bounded state with map-side combine; the doc score is one "
    "broadcast join (512 rows) + a doc_id-keyed aggregation — the "
    "shape that selects pretraining data at 100 TB without a model in "
    "the loop. Integer ratios (not log-sums) keep the ranking "
    "bit-identical cross-engine (documented deviation from the paper's "
    "log-likelihood ratio).",
    tags=("pipeline", "text", "ngram", "sampling"),
)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.functions.portable import h60_spark

    B = _DSIR_BUCKETS
    d = load(spark, sf_dir, "documents")
    if d.rdd.getNumPartitions() < 8:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    w = tokens("text")
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    occ = (
        d.select(
            "doc_id",
            (F.col("source") == _DSIR_TARGET).alias("is_t"),
            w.alias("w"),
        )
        .filter(F.size("w") > 1)
        .select(
            "doc_id", "is_t", F.explode(bigrams).alias("bg")
        )
        .select(
            "doc_id",
            "is_t",
            (F.expr(h60_spark("bg")) % B).alias("bucket"),
        )
        # explicit null-key filter BEFORE the shared aggregation: the
        # ratios join below would otherwise infer isnotnull(bucket)
        # into only the scoring branch, breaking the exchange-subtree
        # identity that ReuseExchange needs for the single corpus scan
        .filter(F.col("bucket").isNotNull())
    )
    # ONE corpus pass: the tokenize+explode stream collapses to
    # per-(doc, bucket) occurrence counts behind a single shuffle.
    # Both consumers below (bucket stats, doc scoring) hang off this
    # same DataFrame, so Catalyst's ReuseExchange rule materializes the
    # expensive scan+explode+partial-agg ONCE and the second branch
    # reads the shuffle output — at 100 TB the bigram explode is the
    # dominant cost and it is now paid once, with no persist() (the
    # reused exchange is bounded: <= n_docs x 512 rows, not the raw
    # bigram stream).
    dbc = occ.groupBy("doc_id", "is_t", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = dbc.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(F.col("cnt"))).alias("cr"),
    )
    # corpus totals ride a single-partition window over the <=512
    # bucket rows — no driver collect, no extra scan
    ratios = stats.select(
        "bucket",
        F.expr(
            f"((ct + 1) * 1000000000) DIV "
            f"(sum(ct) OVER () + {B})"
        ).alias("t_e9"),
        F.expr(
            f"GREATEST(((cr + 1) * 1000000000) DIV "
            f"(sum(cr) OVER () + {B}), 1L)"
        ).alias("r_e9"),
    )
    # the raw-pool filter runs AFTER the doc aggregation (is_t is
    # constant per doc, max() recovers it): a pre-agg filter would be
    # pushed below dbc's exchange and break the subtree identity that
    # ReuseExchange needs — this way the plan has ONE documents scan
    # and a ReusedExchange feeding the scoring branch (asserted in
    # tests/test_dsir.py)
    return (
        dbc.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max("is_t").alias("__is_t"),
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.expr("cnt * ((t_e9 * 1000000) DIV r_e9)"))
            .cast("long")
            .alias("score_e6"),
        )
        .filter(~F.col("__is_t"))
        .select("doc_id", "n_bigrams", "score_e6")
        .orderBy(F.desc("score_e6"), "doc_id")
        .limit(50)
    )


_TOKEN_BUDGET = 10_000  # per-source token budget (greedy-prefix knapsack)


@query(
    "pipeline_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKENS.format(c='text')}) AS BIGINT)
               AS n_tokens,
             CAST(len(list_distinct({_SQL_TOKENS.format(c='text')}))
                  AS BIGINT) * 1000000
               // len({_SQL_TOKENS.format(c='text')}) AS quality_e6
      FROM documents
      WHERE len({_SQL_TOKENS.format(c='text')}) > 0
    ),
    cum AS (
      SELECT doc_id, source, n_tokens, quality_e6,
             SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY quality_e6 DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM scored
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN cum_tokens <= {_TOKEN_BUDGET}
                    THEN 1 ELSE 0 END) AS n_selected,
           CAST(SUM(CASE WHEN cum_tokens <= {_TOKEN_BUDGET}
                         THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_selected,
           CAST(MIN(CASE WHEN cum_tokens <= {_TOKEN_BUDGET}
                         THEN quality_e6 END) AS BIGINT)
             AS quality_floor_e6
    FROM cum GROUP BY source
    """,
    description="Budgeted corpus selection (the data-mixing-under-a-"
    "token-budget step every pretraining run performs): within each "
    "source, documents rank by quality (distinct-token ratio, integer "
    "e6, doc_id tie-break) and the greedy prefix is kept while the "
    "running token total stays inside the per-source budget — "
    "reporting selected counts, tokens used and the quality floor the "
    "budget forces. Deterministic greedy-prefix semantics (no "
    "knapsack backtracking), so the selected SET is identical across "
    "engines/partitionings. One shuffle: the cumulative window "
    "partitions by source and the final aggregate reuses that "
    "partitioning.",
    tags=("pipeline", "sampling"),
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    scored = d.select(
        "doc_id",
        "source",
        F.size(w).cast("long").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(filter(split(lower(text),"
            " '[^a-z0-9]+'), x -> length(x) > 0))) AS BIGINT) * 1000000"
            " DIV size(filter(split(lower(text), '[^a-z0-9]+'),"
            " x -> length(x) > 0))"
        ).alias("quality_e6"),
    ).filter(F.col("n_tokens") > 0)
    win = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_e6"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.withColumn("cum_tokens", F.sum("n_tokens").over(win))
    sel = F.col("cum_tokens") <= _TOKEN_BUDGET
    return cum.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(sel, 1).otherwise(0)).alias("n_selected"),
        F.sum(F.when(sel, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_selected"),
        F.min(F.when(sel, F.col("quality_e6")))
        .cast("long")
        .alias("quality_floor_e6"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (table maintenance)
# ---------------------------------------------------------------------------

_COMPACT_DOCS_PER_FILE = 50  # synthetic manifest granularity
_COMPACT_TARGET = 100_000  # target bytes per compacted output file


@query(
    "pipeline_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, doc_id // {_COMPACT_DOCS_PER_FILE} AS file_id,
             SUM(n_chars) AS size_bytes, COUNT(*) AS n_docs
      FROM documents GROUP BY source, doc_id // {_COMPACT_DOCS_PER_FILE}
    ),
    planned AS (
      SELECT source, file_id, size_bytes, n_docs,
             COALESCE(SUM(size_bytes) OVER (
               PARTITION BY source ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // {_COMPACT_TARGET} AS bin_id
      FROM files
    )
    SELECT source, bin_id,
           COUNT(*) AS n_files,
           CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
    FROM planned
    GROUP BY source, bin_id
    """,
    description="Small-file compaction planning, the OPTIMIZE/rewrite "
    "step every 100 TB parquet table needs: a per-source file manifest "
    "(synthesized here from the documents table at 50 docs/file) is "
    "greedily packed into target-size output bins by running-cumsum "
    "binning — bin = floor(bytes_before / target) over files in layout "
    "order, so each bin closes as soon as it crosses the target and "
    "file contiguity is preserved (rewritten files stay range-prunable "
    "on the layout key). One exchange keyed by source feeds both the "
    "manifest window and the bin rollup; the planner never touches "
    "data bytes, only manifest rows — exactly how a metadata-driven "
    "compactor must behave when the table is 100 TB but the manifest "
    "is megabytes. All arithmetic is integral, so the DuckDB oracle "
    "matches exactly.",
    tags=("pipeline", "maintenance", "window"),
)
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compaction_plan(load(spark, sf_dir, "documents"))


def compaction_plan(
    df: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    rows_per_file: int = _COMPACT_DOCS_PER_FILE,
    target_bytes: int = _COMPACT_TARGET,
) -> DataFrame:
    """Reusable OPTIMIZE planner (engine surface: Engine.compaction_plan /
    GET .../compaction-plan/{table}); pipeline_compaction_plan is the
    fixture-bound registry twin — see its docstring for the dataflow."""
    files = df.groupBy(
        F.col(source_col).alias("source"),
        (F.col(id_col) / rows_per_file).cast("long").alias("file_id"),
    ).agg(
        F.sum(size_col).alias("size_bytes"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    planned = files.withColumn(
        "bin_id",
        F.expr(
            f"coalesce(sum(size_bytes) over ("
            f"partition by source order by file_id "
            f"rows between unbounded preceding and 1 preceding), 0)"
            f" div {target_bytes}"
        ),
    )
    return planned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").cast("long").alias("bin_bytes"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


# ---------------------------------------------------------------------------
# Dataset card (datasheet rollup)
# ---------------------------------------------------------------------------


@query(
    "pipeline_dataset_card",
    oracle=f"""
    WITH base AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(len({_SQL_TOKENS.format(c='text')})) AS BIGINT)
               AS total_tokens,
             COUNT(DISTINCT lang) AS n_langs
      FROM documents GROUP BY source
    ),
    uniq AS (
      SELECT source, COUNT(*) AS n_uniq FROM (
        SELECT DISTINCT source,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
          FROM documents)
      GROUP BY source
    ),
    langs AS (
      SELECT source, lang, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY COUNT(*) DESC, lang) AS rk
      FROM documents GROUP BY source, lang
    )
    SELECT b.source, b.n_docs, b.n_langs,
           l.lang AS top_lang,
           ROUND(CAST(l.c AS DOUBLE) / b.n_docs, 6) AS top_lang_share,
           b.total_chars,
           ROUND(CAST(b.total_chars AS DOUBLE) / b.n_docs, 6) AS avg_chars,
           b.total_tokens,
           b.n_docs - u.n_uniq AS n_exact_dupes
    FROM base b
    JOIN uniq u ON u.source = b.source
    JOIN langs l ON l.source = b.source AND l.rk = 1
    """,
    description="Dataset card ('datasheets for datasets'): the "
    "per-source rollup a corpus release ships — doc/char/token volume, "
    "language profile (distinct langs via collect_set: bounded NDV by "
    "construction; the modal language from a cell-table window, never "
    "a corpus sort), and the exact-duplicate count via DEDUP-FIRST "
    "(distinct (source, digest) then count — the digest exchange "
    "collapses duplicates map-side, where a COUNT(DISTINCT md5) mixed "
    "into the main aggregate would drag an Expand through every row). "
    "Three narrow aggregates over one scan lineage joined on the "
    "handful of source keys.",
    tags=("pipeline", "profile"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dataset_card(load(spark, sf_dir, "documents"))


def dataset_card(
    df: DataFrame,
    *,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Reusable datasheet rollup (engine surface: Engine.dataset_card /
    GET .../card/{table}); pipeline_dataset_card is the fixture-bound
    registry twin — see its docstring for the dataflow."""
    d = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
        F.col(chars_col).alias("n_chars"),
    )
    # NULL text digests to a sentinel (not a hex md5, so collision-free)
    # so the NULL-text group still counts as ONE unique document in
    # n_uniq below — md5(NULL) is NULL and the gid==2 count skips NULL
    # cells, which would otherwise count every NULL-text doc as an
    # exact dupe (latent: fixtures carry no NULL text).
    dig = F.coalesce(
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))),
        F.lit("<null-text>"),
    )
    # ONE corpus scan (round-7 verdict: the old 3-branch form scanned
    # the corpus three times, reading + processing the heavy text
    # column twice — tokenize and digest). The projection evaluates
    # the tokenizer AND the digest once per document, then a single
    # GROUPING SETS aggregate ((source), (source,lang), (source,dig))
    # produces every card fact's input behind ONE exchange: the Expand
    # triples only the NARROW projected rows (~60 bytes, no text), the
    # partial aggregate collapses them map-side, and a per-source
    # assembly aggregate stitches the card. This is structurally
    # single-scan (test_pipeline pins the plan property) — no reliance
    # on AQE ReusedExchange, which per-branch column pruning defeats
    # for consumers that need different aggregate expressions. The
    # modal language comes from MIN(struct(-c, lang)) over the
    # (source,lang) rows — max count, then lexicographically first
    # lang, the oracle's ORDER BY c DESC, lang tie-break — instead of
    # a window over a second shuffle.
    proj = d.select(
        "source",
        "lang",
        dig.alias("dig"),
        F.col("n_chars").cast("long").alias("nc"),
        F.size(tokens("text")).cast("long").alias("nt"),
    )
    gs = proj.groupingSets(
        [["source"], ["source", "lang"], ["source", "dig"]],
        "source", "lang", "dig",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nc").alias("sc"),
        F.sum("nt").alias("st"),
        # bits are (source, lang, dig): 3=0b011 -> (source) subtotal,
        # 1=0b001 -> (source,lang) cells, 2=0b010 -> (source,dig) cells
        F.grouping_id().alias("gid"),
    )
    gid = F.col("gid")
    one = gs.groupBy("source").agg(
        F.sum(F.when(gid == 3, F.col("n"))).alias("n_docs"),
        F.sum(F.when(gid == 3, F.col("sc"))).alias("total_chars"),
        F.sum(F.when(gid == 3, F.col("st"))).alias("total_tokens"),
        F.count(
            F.when((gid == 1) & F.col("lang").isNotNull(), F.lit(1))
        ).alias("n_langs"),
        F.count(
            F.when((gid == 2) & F.col("dig").isNotNull(), F.lit(1))
        ).alias("n_uniq"),
        F.min(
            F.when(
                gid == 1,
                F.struct((-F.col("n")).alias("neg_c"), F.col("lang")),
            )
        ).alias("top"),
    )
    return one.select(
        "source",
        "n_docs",
        "n_langs",
        F.col("top.lang").alias("top_lang"),
        F.round(
            (-F.col("top.neg_c")).cast("double") / F.col("n_docs"), 6
        ).alias("top_lang_share"),
        "total_chars",
        F.round(
            F.col("total_chars").cast("double") / F.col("n_docs"), 6
        ).alias("avg_chars"),
        "total_tokens",
        (F.col("n_docs") - F.col("n_uniq")).alias("n_exact_dupes"),
    )


@query(
    "pipeline_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, n_chars,
             octet_length(encode(text)) AS nb,
             len({_SQL_TOKENS.format(c='text')}) AS nt
      FROM documents
    )
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           CAST(SUM(nt) * 1000000 // GREATEST(SUM(nb), 1) AS BIGINT)
             AS tokens_per_byte_e6,
           CAST(SUM(nb) * 1000000 // GREATEST(SUM(nt), 1) AS BIGINT)
             AS bytes_per_token_e6
    FROM t GROUP BY source, lang
    """,
    description="Tokenizer fertility audit per (source, lang): token / "
    "char / UTF-8 byte volumes and the two fertility ratios "
    "(tokens-per-byte, bytes-per-token, e6 fixed-point DIV — "
    "engine-identical) that decide whether a tokenizer under- or "
    "over-segments a language before a training run commits to it — "
    "the standard multilingual-tokenizer evaluation metric. ONE corpus "
    "scan, tokenizer evaluated once per doc in the projection, one "
    "exchange with map-side combine onto the small (source, lang) "
    "grid.",
    tags=("pipeline", "profile", "llm"),
)
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source",
        "lang",
        "n_chars",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("nb"),
        F.size(tokens("text")).cast("long").alias("nt"),
    )
    return t.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("nb").cast("long").alias("total_bytes"),
        F.expr("(sum(nt) * 1000000) DIV greatest(sum(nb), 1)").alias(
            "tokens_per_byte_e6"
        ),
        F.expr("(sum(nb) * 1000000) DIV greatest(sum(nt), 1)").alias(
            "bytes_per_token_e6"
        ),
    )


@query(
    "pipeline_dedup_cluster_stats",
    oracle="""
    WITH clusters AS (
      SELECT md5(text) AS dig, CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY md5(text)
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM clusters GROUP BY sz
    """,
    description="Duplicate-cluster size histogram over exact-content "
    "groups — the audit table behind any dedup rollout decision: how "
    "many singletons, how big is the largest clique, and n_removable "
    "(sum over (size-1)*count) is EXACTLY the row count "
    "dedup_exact would delete, before running it. Two shuffles, both "
    "shrinking: corpus -> per-digest counts (map-side combined "
    "md5-keyed exchange, the same digest dedup_exact keys on) -> "
    "per-size counts (a handful of rows). No windows, no text "
    "movement after the first projection — at 100 TB the second "
    "stage input is one row per DISTINCT document.",
    tags=("pipeline", "dedup"),
)
def pipeline_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    clusters = d.groupBy(F.md5("text").alias("dig")).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return clusters.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("sz") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("sz") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    ).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


@query(
    "pipeline_quality_funnel",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id, n_chars,
             len({_SQL_TOKENS.format(c='text')}) AS nt,
             len(regexp_extract_all(text, '[0-9]')) AS nd,
             ROW_NUMBER() OVER (
               PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+',
                 ' ', 'g'))))
               ORDER BY doc_id) AS rn
      FROM documents
    ),
    flags AS (
      SELECT source,
             CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS p1,
             CASE WHEN n_chars >= 200 AND nt >= 30
                  THEN 1 ELSE 0 END AS p2,
             CASE WHEN n_chars >= 200 AND nt >= 30
                       AND nd * 5 <= n_chars
                  THEN 1 ELSE 0 END AS p3,
             CASE WHEN n_chars >= 200 AND nt >= 30
                       AND nd * 5 <= n_chars AND rn = 1
                  THEN 1 ELSE 0 END AS p4
      FROM base
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(p1) AS BIGINT) AS n_len_ok,
           CAST(SUM(p2) AS BIGINT) AS n_tok_ok,
           CAST(SUM(p3) AS BIGINT) AS n_digit_ok,
           CAST(SUM(p4) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(p4) AS DOUBLE) / COUNT(*), 6) AS retention
    FROM flags GROUP BY source ORDER BY source
    """,
    description="Quality-filter cascade attrition per source: the "
    "stage-by-stage survivor counts (length floor -> token floor -> "
    "digit-ratio cap -> exact-dup removal) every corpus-curation run "
    "reports before a training mix is committed — the funnel that "
    "tells you WHICH gate is eating a source, not just the end-to-end "
    "yield. Stages are CUMULATIVE (each includes all prior gates, the "
    "funnel invariant n_docs >= s1 >= s2 >= s3 >= s4, pinned by a "
    "test). One corpus scan evaluates tokenizer + digit count + "
    "normalized digest in the projection; the dup flag is a "
    "rank-1-per-digest window keyed by the HIGH-CARDINALITY digest "
    "(never a low-cardinality reducer), then one exchange onto the "
    "source grid. Same per-doc text passes as pipeline_dataset_card; "
    "the keep-first-doc_id survivor rule matches dedup_exact.",
    tags=("pipeline", "quality", "llm"),
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    dig = F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    )
    base = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("nt"),
        F.size(F.split("text", "[0-9]")).cast("long").alias("nd_plus1"),
        dig.alias("dig"),
    )
    wdup = Window.partitionBy("dig").orderBy("doc_id")
    flagged = base.select(
        "source",
        "n_chars",
        "nt",
        (F.col("nd_plus1") - 1).alias("nd"),
        F.row_number().over(wdup).alias("rn"),
    )
    p1 = F.col("n_chars") >= 200
    p2 = p1 & (F.col("nt") >= 30)
    p3 = p2 & (F.col("nd") * 5 <= F.col("n_chars"))
    p4 = p3 & (F.col("rn") == 1)
    out = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(p1.cast("long")).alias("n_len_ok"),
        F.sum(p2.cast("long")).alias("n_tok_ok"),
        F.sum(p3.cast("long")).alias("n_digit_ok"),
        F.sum(p4.cast("long")).alias("n_kept"),
    )
    return out.select(
        "source",
        "n_docs",
        "n_len_ok",
        "n_tok_ok",
        "n_digit_ok",
        "n_kept",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_docs"), 6
        ).alias("retention"),
    ).orderBy("source")


_NOVELTY_GRAM_DUCK = "w[u.pos] || ' ' || w[u.pos+1] || ' ' || w[u.pos+2]"


@query(
    "pipeline_ngram_novelty",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {_SQL_TOKENS.format(c='text')} AS w
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source,
             {{h}} AS h
      FROM tok, UNNEST(range(1, len(w) - 1)) AS u(pos)
      WHERE len(w) >= 3
    ),
    fd AS (SELECT h, MIN(doc_id) AS fdoc FROM g GROUP BY h),
    pd AS (
      SELECT doc_id, source, COUNT(*) AS ng,
             SUM(CASE WHEN fdoc = doc_id THEN 1 ELSE 0 END) AS nn
      FROM g JOIN fd USING (h) GROUP BY doc_id, source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(ng) AS BIGINT) AS total_grams,
           CAST(SUM(nn) AS BIGINT) AS novel_grams,
           CAST(SUM(nn) * 1000000 // SUM(ng) AS BIGINT) AS novelty_ppm,
           CAST(SUM(nn * 1000000 // ng) // COUNT(*) AS BIGINT)
             AS mean_doc_novelty_e6
    FROM pd GROUP BY source
    """.format(h=h60_duck(_NOVELTY_GRAM_DUCK)),
    description="Per-source n-gram novelty curve: for every document, "
    "the fraction of its DISTINCT 3-token shingles whose global first "
    "occurrence (minimum doc_id over the whole corpus) is this "
    "document — the standard corpus-redundancy audit that tells a "
    "training-data pipeline how much genuinely new text each source "
    "contributes vs re-crawls of already-seen material (the "
    "complement of dedup: dedup asks 'is this doc a copy', novelty "
    "asks 'how much of the marginal token mass is new'). Plan (r13 "
    "re-plan): tokenizer (shared regex, DuckDB parity via "
    "string_split_regex) -> portable h60 gram hashes with the per-doc "
    "DISTINCT computed SCAN-SIDE (array_distinct inside the "
    "projection — no doc-and-gram-keyed exchange of gram instances) "
    "-> ONE gram-keyed MIN(doc_id) aggregation (map-side partial: a "
    "stop-gram appearing in every document costs one combiner cell) "
    "-> per-doc novelty as the OWNER COUNT of that first-occurrence "
    "table (no join back at gram granularity; the r12 plan broadcast "
    "the whole gram dictionary into a gram-level join — unbounded at "
    "scale) -> narrow doc-keyed join + (source) rollup. The "
    "window-min single-exchange alternative A/B'd SLOWER at x10 — "
    "WindowExec's per-partition sort on near-unique gram hashes "
    "costs more than the exchange it saves. Fixed-point e6 ratios with "
    "floor division on both engines; min-doc-id tie-break makes the "
    "result partition-invariant. Scales as O(distinct grams) shuffle "
    "bytes. Reference parity: net-new LLM-pipeline surface.",
    tags=("pipeline", "dedup", "llm"),
)
def pipeline_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    tw = d.select("doc_id", "source", w.alias("w"))
    if tw.rdd.getNumPartitions() < 8:
        tw = tw.repartition(spark.sparkContext.defaultParallelism)
    gram = (
        "concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
        " element_at(w, i + 2))"
    )
    grams = F.expr(
        f"transform(sequence(1, size(w) - 2), i -> {h60_spark(gram)})"
    )
    # Per-doc gram DEDUPE moved into the array (array_distinct inside
    # the projection): the r12 plan deduped via a (doc, source, h)
    # hash-aggregate exchange of every gram INSTANCE — computed twice,
    # once per consumer (history/plans/r13/pipeline_ngram_novelty_before.txt:
    # the whole tokenize->explode->distinct subtree appears on BOTH
    # sides of the h join). Scan-side dedupe removes those gram-
    # instance exchanges entirely (guide §2.3/§2.4: shuffle fewer
    # bytes, remove shuffles outright).
    g = tw.select(
        "doc_id",
        "source",
        F.explode_outer(
            F.when(F.size("w") >= 3, F.array_distinct(grams))
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    # first-occurrence owners: one gram-keyed exchange with map-side
    # partial MIN (the only corpus-scale shuffle left). nn per doc is
    # the OWNER COUNT of fd — no join back to the gram rows at gram
    # granularity (the r12 plan broadcast the whole gram dictionary
    # into a gram-granularity join: unboundedly large at scale).
    fd = g.groupBy("h").agg(F.min("doc_id").alias("fdoc"))
    nn = fd.groupBy("fdoc").agg(F.count(F.lit(1)).alias("nn"))
    # ng per doc: count of its distinct grams — the rows g already
    # emits, collapsed by a map-side combine to one row per doc before
    # the (narrow) doc-keyed exchange.
    ngt = g.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("ng")
    )
    pd = ngt.join(
        nn, ngt.doc_id == nn.fdoc, "left"
    ).select(
        "doc_id",
        "source",
        "ng",
        F.coalesce(F.col("nn"), F.lit(0)).alias("nn"),
    )
    return pd.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ng").cast("long").alias("total_grams"),
        F.sum("nn").cast("long").alias("novel_grams"),
        F.expr("(sum(nn) * 1000000) DIV sum(ng)").alias("novelty_ppm"),
        F.expr(
            "sum((nn * 1000000) DIV ng) DIV count(1)"
        ).alias("mean_doc_novelty_e6"),
    )


@query(
    "pipeline_incremental_novelty",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {_SQL_TOKENS.format(c='text')} AS w
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source,
             {{h}} AS h
      FROM tok, UNNEST(range(1, len(w) - 1)) AS u(pos)
      WHERE len(w) >= 3
    ),
    thr AS (SELECT (MAX(doc_id) * 4) // 5 AS t FROM documents),
    fd AS (SELECT h, MIN(doc_id) AS fdoc FROM g GROUP BY h),
    pd AS (
      SELECT doc_id, source, COUNT(*) AS ng,
             SUM(CASE WHEN fdoc = doc_id THEN 1 ELSE 0 END) AS nn
      FROM g JOIN fd USING (h) GROUP BY doc_id, source
    )
    SELECT doc_id, source,
           CAST(ng AS BIGINT) AS total_grams,
           CAST(nn AS BIGINT) AS novel_grams,
           CAST(nn * 1000000 // ng AS BIGINT) AS novelty_e6
    FROM pd, thr WHERE doc_id > thr.t
    """.format(h=h60_duck(_NOVELTY_GRAM_DUCK)),
    description="Incremental n-gram novelty — the continuous-ingestion "
    "twin of pipeline_ngram_novelty, mirroring what "
    "dedup_incremental_minhash does for near-dedup: the arriving "
    "batch (the newest ~20% of doc_ids, i.e. doc_id > 4/5 * max — a "
    "PREFIX split, because ids are assigned at ingest) is probed "
    "against the already-ingested corpus gram index, and each new "
    "document is scored for how much genuinely new token mass it "
    "adds BEFORE it is admitted — the online form of the corpus-"
    "redundancy audit (gate a crawl batch on novelty_e6, not after "
    "the fact). A batch gram is novel iff it is ABSENT from the "
    "corpus index AND this doc is its first occurrence WITHIN the "
    "batch (min doc_id) — which on a prefix split is exactly the "
    "batch operator's global-min first-occurrence semantics "
    "restricted to batch docs, so the oracle is written in the batch "
    "form and the gate itself certifies the replay identity "
    "incremental(index) + batch == full-corpus recompute. Plan (r13 "
    "re-plan): the tokenizer-barrier gram machinery with scan-side "
    "per-doc DISTINCT (array_distinct in the projection), split by a "
    "broadcast 1-row threshold aggregate; on a prefix split 'absent "
    "from the index AND first within the batch' IS 'global first "
    "occurrence past the threshold', so one gram-keyed MIN over all "
    "docs (map-side partial) replaces the whole index/batch "
    "anti-join — novel counts are the filtered OWNER COUNTS of that "
    "table, probe cardinality O(distinct grams), never gram "
    "instances; at 100 TB the index side is a persisted first-"
    "occurrence table keyed by h and the MIN folds the batch into it "
    "(the dedup_incremental_minhash deployment shape). Fixed-point "
    "e6 floor division both engines. Reference parity: net-new "
    "LLM-pipeline surface.",
    tags=("pipeline", "dedup", "llm", "incremental"),
)
def pipeline_incremental_novelty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from litebase_spark.functions.portable import h60_spark

    d = load(spark, sf_dir, "documents")
    w = tokens("text")
    tw = d.select("doc_id", "source", w.alias("w"))
    if tw.rdd.getNumPartitions() < 8:
        tw = tw.repartition(spark.sparkContext.defaultParallelism)
    gram = (
        "concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
        " element_at(w, i + 2))"
    )
    grams = F.expr(
        f"transform(sequence(1, size(w) - 2), i -> {h60_spark(gram)})"
    )
    # Scan-side per-doc gram dedupe + owner-count novelty — the same
    # re-plan as pipeline_ngram_novelty (see its comments): on a
    # PREFIX split, "absent from the index AND first within the batch"
    # is exactly "global first occurrence is a batch doc", so the
    # whole index/batch anti-join machinery collapses into ONE
    # gram-keyed MIN over all docs filtered to owners past the
    # threshold. The r12 plan evaluated the tokenize->explode->
    # distinct subtree once per consumer (3x) and anti-joined batch
    # grams against the index grams (history/plans/r13/
    # pipeline_incremental_novelty_before.txt: 12 parquet scans, 34
    # exchanges -> 4 scans, 1 corpus-scale exchange).
    g = tw.select(
        "doc_id",
        "source",
        F.explode_outer(
            F.when(F.size("w") >= 3, F.array_distinct(grams))
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    thr = d.agg(F.expr("(max(doc_id) * 4) DIV 5").alias("t"))
    fd = g.groupBy("h").agg(F.min("doc_id").alias("fdoc"))
    novel = (
        fd.crossJoin(F.broadcast(thr))
        .filter(F.col("fdoc") > F.col("t"))
        .groupBy("fdoc")
        .agg(F.count(F.lit(1)).alias("nn"))
    )
    pd_ = (
        g.crossJoin(F.broadcast(thr))
        .filter(F.col("doc_id") > F.col("t"))
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("ng"))
    )
    return (
        pd_.join(novel, pd_.doc_id == novel.fdoc, "left")
        .select(
            "doc_id",
            "source",
            F.col("ng").cast("long").alias("total_grams"),
            F.coalesce(F.col("nn"), F.lit(0))
            .cast("long")
            .alias("novel_grams"),
            F.expr(
                "(coalesce(nn, 0) * 1000000) DIV ng"
            ).alias("novelty_e6"),
        )
    )

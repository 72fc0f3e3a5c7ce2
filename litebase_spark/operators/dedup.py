"""Deduplication operators over the documents table (north-star LLM ops).

Four tiers, each designed around its 100 TB shuffle shape:

  * exact            — hash-groupBy on md5(text): one shuffle keyed by
                       digest, partial agg collapses per-partition dups
                       before the shuffle.
  * normalized exact — same, after canonicalization (case/whitespace).
  * n-gram Jaccard   — exact pairwise similarity, but candidate pairs come
                       from an inverted shingle index (self-join on
                       shingle), never a cross join; the shuffle is keyed
                       by shingle hash.
  * MinHash + LSH    — the scale path: constant-size signatures, banded
                       into buckets; only within-bucket pairs are compared.
                       Shuffles are keyed by (band, bucket-hash), so skew
                       is bounded by bucket size, not corpus size.
  * SimHash          — 64-bit near-dup signature per doc; Hamming-adjacent
                       buckets via bit-block keys.

Round 2: MinHash and SimHash moved off xxhash64 onto the portable md5
hash family (functions/portable.py), so BOTH sketch tiers are now
oracle-EXACT — the DuckDB oracle reproduces every signature bit-for-bit.
All five tiers are hash-checked against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from litebase_spark.catalog import load, query, spread
from litebase_spark.functions.portable import (
    affine_constants,
    affine_duck,
    affine_spark,
    h60_duck,
    h60_spark,
    plane_components,
    plane_duck,
)
from litebase_spark.operators.text import _SQL_TOKENS, tokens
from litebase_spark.plans.recursive import fixpoint


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS representative
    FROM documents
    GROUP BY md5(text)
    """,
    description="Exact dedup via content digest: hash-groupBy keyed by "
    "md5(text), min(doc_id) as the kept representative. 100 TB: digest is "
    "computed map-side; the shuffle carries (16-byte key, id) only — "
    "never the text.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("representative"),
        )
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS norm_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS representative
    FROM documents
    GROUP BY 1
    """,
    description="Exact dedup after canonicalization (lowercase + collapsed "
    "whitespace) — catches trivially-reformatted duplicates.",
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return (
        d.select(F.md5(norm).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("representative"),
        )
    )


_JACCARD_THRESHOLD = 0.5


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, list_distinct(list_transform(
                   range(1, len(w) - 1),
                   i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        FROM (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w
              FROM documents)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingled),
    postings AS (SELECT doc_id, u.s FROM shingled, UNNEST(sh) AS u(s)),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM postings a JOIN postings b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.inter AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - p.inter), 6) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter)
          >= {_JACCARD_THRESHOLD}
    """,
    description="Exact n-gram Jaccard near-dedup: distinct 3-word shingles "
    "per doc -> inverted index (explode) -> self-join on shingle to count "
    "intersections -> Jaccard from set sizes. No cross join anywhere: "
    "candidate pairs only materialize where docs actually share a shingle. "
    "100 TB: shuffle keyed by shingle digest; hot shingles are the skew "
    "risk — production variant drops shingles with df above a cap "
    "(they contribute candidates, not discrimination).",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Tokenize BEFORE a repartition barrier: the exchange materializes
    # the token array, so (a) single-row-group fixture scans don't
    # serialize the shingle work on one core, and (b) CollapseProject
    # can't inline the regexp tokenizer into every element_at of the
    # shingle lambda. The explode below is explode_OUTER because a
    # plain explode triggers InferFiltersFromGenerate, whose
    # size(sh) > 0 predicate pushes below the exchange into the scan
    # and re-evaluates the whole shingle expression serialized
    # (together these measured 25.9 s -> 2.9 s at sf0.1); size(w) >= 3
    # already guarantees sh is non-empty, so semantics are identical.
    tok = d.select("doc_id", tokens("text").alias("w"))
    if tok.rdd.getNumPartitions() < 8:
        tok = tok.repartition(spark.sparkContext.defaultParallelism)
    # Short docs are guarded INSIDE the projection (NULL sh) instead of
    # a pre-explode filter: a `filter(size(w) >= 3)` gets pushed below
    # the project/exchange with the tokenizer inlined, so the regex
    # split ran twice per document (once in the pushed filter, once in
    # the projection). The NULL rows drop at the post-Generate
    # isNotNull, which cannot be pushed below the Generate.
    shingled = tok.select(
        "doc_id",
        F.when(
            F.size("w") >= 3,
            F.array_distinct(
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
            ),
        ).alias("sh"),
    )
    # r13: carry each doc's shingle-set size THROUGH the explode
    # instead of a separate `sizes` table — n_sh is constant per doc,
    # so both pair-side sizes ride the postings rows into the pair
    # aggregate as grouping keys and the two sizes join-backs (each of
    # which re-inlined the tokenize+md5-shingle corpus pass — 4 scans
    # per execution in history/plans/r13/dedup_ngram_jaccard_before.txt)
    # disappear. The shingle pass now runs once per pair SIDE (2x),
    # with no corpus-sized materialization (a localCheckpoint of the
    # md5-string shingle arrays measured ~40 GB at x100 — a scale
    # hazard, reverted).
    postings = shingled.select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode_outer("sh").alias("s"),
    ).filter(F.col("s").isNotNull())
    a = postings.alias("a")
    b = postings.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        pair_inter.filter(jac >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path — oracle-EXACT via the portable md5 family)
# ---------------------------------------------------------------------------

N_HASHES = 32  # minhash signature length
N_BANDS = 8  # LSH bands (rows per band = N_HASHES / N_BANDS = 4)

_MINHASH_AB = affine_constants(N_HASHES)


def minhash_signatures(
    docs: DataFrame, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — minhash signature per document.

    Round-2 redesign for differential testability: signatures derive
    from the portable md5 affine family (functions/portable.py) instead
    of JVM xxhash64 / Python blake2b, so the DuckDB oracle reproduces
    them bit-for-bit and dedup_minhash_lsh graduates from rows-only to
    hash-checked. Execution is an Arrow-batched mapInPandas kernel: ONE
    md5 per distinct shingle, then the n-hash family as a numpy uint64
    broadcast using the same 2^61-1 folding as the SQL sides. Measured
    alternatives at sf0.1: pure-JVM expression form (32 higher-order
    lambdas/shingle) blows the codegen method limit and runs interpreted
    at ~4.2s; exact-DECIMAL form ~2.8s; this kernel ~0.6s. No shuffle —
    still a narrow map over docs.
    """
    ab = (
        _MINHASH_AB if n_hashes <= N_HASHES else affine_constants(n_hashes)
    )[:n_hashes]

    def compute(batches):
        import hashlib
        import re as _re

        import numpy as np
        import pandas as pd

        # uint64 twin of portable._affine_mulmod: every intermediate
        # stays < 2^63, so unsigned-wraparound never engages and the
        # result equals (a*x + b) % (2^61-1) exactly (property-tested
        # in test_dedup_similarity; the full pipeline is oracle-checked).
        av = np.array([a for a, _ in ab], dtype=np.uint64)
        bv = np.array([b for _, b in ab], dtype=np.uint64)
        p61 = np.uint64((1 << 61) - 1)
        m30 = np.uint64((1 << 30) - 1)
        m31 = np.uint64((1 << 31) - 1)
        token_re = _re.compile(r"[a-z0-9]+")
        for pdf in batches:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:  # a NULL text has no shingles
                    continue
                ws = token_re.findall(text.lower())
                if not ws:
                    continue
                if len(ws) >= 3:
                    shingles = {
                        " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
                    }
                else:
                    shingles = {" ".join(ws)}
                base = np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in shingles
                    ),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                t = av[None, :] * (base >> np.uint64(31))[:, None]
                r1 = (t >> np.uint64(30)) + ((t & m30) << np.uint64(31))
                h = (
                    (r1 + av[None, :] * (base & m31)[:, None]) % p61
                    + bv[None, :]
                ) % p61
                out_ids.append(doc_id)
                out_sigs.append(h.min(axis=0).astype(np.int64).tolist())
            if out_ids:  # Arrow cannot type an empty object column as a list
                yield pd.DataFrame({"doc_id": out_ids, "sig": out_sigs})

    # fixtures arrive as one small parquet file -> 1 input partition;
    # spread the hash-heavy map across all cores (at 100 TB the input is
    # already many splits and this repartition is a no-op to remove)
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(parallelism)
        .mapInPandas(compute, schema="doc_id long, sig array<long>")
    )


def band_signatures(
    sigs: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """Explode (doc_id, sig) into one row per LSH band:
    (doc_id, sig, band, bucket) with bucket = md5 of the band's
    signature slice — the shuffle key for every minhash join."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bucket"),
        ),
    )
    return sigs.select(
        "doc_id", "sig", F.explode(bands).alias("bb")
    ).select("doc_id", "sig", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sigs: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> DataFrame:
    """Band the signatures and emit candidate pairs per matching bucket.

    (band, hash(band-slice)) is the shuffle key — bucket sizes are the
    only quadratic term, and hot buckets can be salted/capped. This is
    the SURVEY §7.3 design rule: every dedup operator LSH-partitioned,
    never a cross join.
    """
    rows_per_band = n_hashes // n_bands
    # Materialize signatures before the self-join: both join sides reuse
    # the computed signatures instead of re-deriving the whole
    # tokenize->shingle->hash pipeline per side.
    sigs = sigs.localCheckpoint(eager=True)
    banded = band_signatures(sigs, n_bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    est = (
        F.size(
            F.filter(
                F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / n_hashes
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _minhash_lsh_oracle() -> str:
    rows = N_HASHES // N_BANDS
    sig_items = ",\n        ".join(
        f"list_min(list_transform(bh, x -> {affine_duck('x', a, b)}))"
        for a, b in _MINHASH_AB
    )
    arms = "\n      UNION ALL\n".join(
        "      SELECT doc_id, sig, {b} AS band, md5({cc}) AS bucket"
        " FROM sig".format(
            b=b,
            cc=" || ',' || ".join(
                f"CAST(sig[{b * rows + j + 1}] AS VARCHAR)"
                for j in range(rows)
            ),
        )
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.sig[{i}] = b.sig[{i}] THEN 1 ELSE 0 END"
        for i in range(1, N_HASHES + 1)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ), sh AS (
      SELECT doc_id, CASE WHEN len(w) >= 3
          THEN list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
          ELSE [array_to_string(w, ' ')] END AS shingles
      FROM toks WHERE len(w) > 0
    ), base AS (
      SELECT doc_id, list_transform(shingles, s -> {h60_duck('s')}) AS bh
      FROM sh
    ), sig AS (
      SELECT doc_id, [{sig_items}] AS sig FROM base
    ), banded AS (
{arms}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ({matches}) / {float(N_HASHES)} AS est_jaccard
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE ({matches}) / {float(N_HASHES)} >= 0.4
    ORDER BY doc_a, doc_b
    """


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    description="MinHash+LSH near-dedup (scale path): 32-hash signatures, "
    "8 bands x 4 rows; candidate pairs only within matching (band, bucket). "
    "Signatures use the portable md5 affine family so the full "
    "pipeline — shingling, signatures, banding, candidate pairs, "
    "estimated Jaccard — is oracle-exact against DuckDB; tests "
    "additionally assert LSH recall against oracle-verified "
    "dedup_ngram_jaccard.",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    pairs = lsh_candidate_pairs(sigs)
    return pairs.filter(F.col("est_jaccard") >= 0.4).orderBy("doc_a", "doc_b")


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ), hs AS (
      SELECT doc_id, list_transform(w, t -> {h60_duck('t')}) AS h
      FROM toks WHERE len(w) > 0
    ), sim AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 60),
          b -> CASE WHEN 2 * len(list_filter(h, hv -> ((hv >> b) & 1) = 1))
                         >= len(h)
                    THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)
          AS simhash
      FROM hs
    )
    SELECT doc_id, simhash, simhash >> 44 AS block_key FROM sim
    """,
    description="SimHash 60-bit near-dup signatures: per-token portable "
    "md5 hash (oracle-exact, functions/portable.py), bit-vote "
    "aggregation via fold over 60 positions, signature emitted per doc "
    "with a 16-bit block key for Hamming-adjacent bucketing. Narrow map "
    "only — no shuffle.",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d = spread(d)
    w = tokens("text")
    hashes = F.expr(f"transform(w, t -> {h60_spark('t')})")
    # bit b of simhash = majority vote of bit b across token hashes.
    # SQL expr form: the Python shiftleft() wrapper only takes literal
    # shift amounts, while the SQL function accepts a column.
    # r14 negative receipt: an allocation-free variant (60 separate
    # aggregate() folds, one per bit, OR-chained — no filtered-array
    # copies) LOST the interleaved fresh-JVM x100m A/B decisively,
    # 19.2 s -> 26.8 s: sixty independent HOF folds each re-walk the
    # hash array with a lambda call per element, costing more than the
    # transform+filter shape's 60 array allocations, which at least
    # share one vectorized codegen span. Reverted; the r10 shape stands
    # with an at-scale receipt.
    votes = F.expr(
        "transform(sequence(0, 59), "
        "b -> size(filter(h, hv -> (hv & shiftleft(1L, b)) != 0)))"
    )
    sim = F.expr(
        "aggregate("
        "  zip_with(votes, sequence(0, 59),"
        "    (v, b) -> IF(v * 2 >= size(h), shiftleft(1L, b), 0L)),"
        "  0L, (acc, x) -> acc | x)"
    )
    return (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") > 0)
        .select("doc_id", hashes.alias("h"))
        .select("doc_id", "h", votes.alias("votes"))
        .select("doc_id", sim.alias("simhash"))
        .select(
            "doc_id",
            "simhash",
            F.shiftrightunsigned("simhash", 44).alias("block_key"),
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(
             list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
             6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
          >= 0.4
    """,
    description="Embedding-cosine near-duplicate pairs (threshold 0.4 — "
    "the fixture has no true dups; the 99.9th-percentile pair similarity "
    "is ~0.38). Oracle-parity EXACT baseline of the near-dup pipeline: "
    "the headline scale query is dedup_embedding_lsh_verified (banded "
    "candidates only); this variant checks every pair. The self-join is "
    "a SHUFFLE_REPLICATE_NL distributed block-nested-loop — each task "
    "holds one partition from each side, so no node ever materializes "
    "the full corpus (round 2 broadcast the whole b side; that was the "
    "one full-corpus broadcast left in a registered dedup plan).",
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.operators.similarity import dot, norm2

    e = load(spark, sf_dir, "embeddings")
    # Partition-pair grid: sides at P partitions each -> P^2 tasks; keep
    # P moderate so the cartesian task count stays near the core count.
    e = e.repartition(8)
    # Norms are per-row scalars: compute them ONCE per side (O(n) work)
    # instead of inside the O(n^2) pair loop. Bit-identical to the naive
    # cosine (same fold order, same scalar division), ~2.4x faster.
    a = e.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("va"),
        norm2(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("vb"),
        norm2(F.col("embedding")).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(
            b.hint("shuffle_replicate_nl"),
            F.col("vec_id_a") < F.col("vec_id_b"),
        )
        .select("vec_id_a", "vec_id_b", sim.alias("raw_sim"))
        .filter(F.col("raw_sim") >= 0.4)
        .select("vec_id_a", "vec_id_b", F.round("raw_sim", 6).alias("cos_sim"))
    )


@query(
    "dedup_embedding_blocked",
    oracle="""
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(
             list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
             6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, 65),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
          >= 0.4
    """,
    description="Embedding near-dup pairs with a triangle-blocked BLAS "
    "kernel: rows hash into G blocks, every unordered block pair "
    "(g1<=g2) becomes one cogroup, and each cogroup runs ONE matmul "
    "between its two blocks (upper triangle when g1==g2), emitting "
    "candidate (i<j, sim>=tau-eps) pairs. This is the distributed "
    "exact O(n^2) pattern: no driver collect, no full-corpus broadcast "
    "— each task holds 2n/G rows and each row is shuffled G times "
    "(G ~ sqrt(cluster tasks); round 2 collected + broadcast the whole "
    "corpus, the scale-killer class). Candidates are then RE-CHECKED "
    "with the exact JVM fold (same expression as dedup_embedding_"
    "cosine), so the reported pairs and values are bit-identical to the "
    "oracle — BLAS only prunes (with an eps margin against "
    "summation-order ulps), it never decides membership or a value.",
    tags=("dedup", "similarity", "pandas_udf"),
)
def dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.operators.similarity import dot, norm2

    TAU = 0.4
    # prune margin >> float32-matmul-vs-JVM-float64 error (64-dim dot
    # of unit vectors: float32 relative error ~1e-5); the margin only
    # admits a sliver of extra candidates into the EXACT verify pass
    # below, which alone decides membership and values. float32 HALVES
    # the matmul bytes/flops — at 200k vectors (2e10 pairs) that is
    # the difference between fitting the sweep cap and not.
    EPS = 1e-3
    G = 8  # block grid; at 100 TB pick G so 2n/G rows fit one task
    e = spread(load(spark, sf_dir, "embeddings"))

    # strip height for the tiled matmul: a FULL sims matrix for a
    # 25k-row block is 2.5 GB float32, and with every core running a
    # block pair concurrently that is an 80 GB aggregate allocation —
    # measured as the x100 cap cause (GC thrash, not flops: the
    # matmul itself is ~16 s of wall across the grid). Tiling bounds
    # each task's live sims buffer to STRIP x |B| (~200 MB at x100)
    # at identical flop count.
    STRIP = 2048

    def block_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        g1, g2 = divmod(int(key[0]), G)
        M = np.stack(pdf["embedding"].apply(np.asarray).values).astype(
            np.float32
        )
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        ids = pdf["vec_id"].values
        if g1 == g2:
            A = B = Mn
            aid = bid = ids
        else:
            s1 = (pdf["g"] == g1).values
            A, B = Mn[s1], Mn[~s1]
            aid, bid = ids[s1], ids[~s1]
        los, his = [], []
        for s in range(0, A.shape[0], STRIP):
            sims = A[s:s + STRIP] @ B.T
            ai, bj = np.nonzero(sims >= TAU - EPS)
            x, y = aid[s + ai], bid[bj]
            keep = x < y if g1 == g2 else slice(None)
            lo = np.minimum(x, y)[keep] if g1 != g2 else x[keep]
            hi = np.maximum(x, y)[keep] if g1 != g2 else y[keep]
            los.append(lo)
            his.append(hi)
        lo = np.concatenate(los) if los else np.array([], dtype=np.int64)
        hi = np.concatenate(his) if his else np.array([], dtype=np.int64)
        return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi})

    blocked = e.select(
        "vec_id", "embedding", F.pmod(F.hash("vec_id"), F.lit(G)).alias("g")
    )
    # Row in block g joins every partner block p: cogroup key is the
    # unordered block pair least(g,p)*G + greatest(g,p); (g,g) once.
    assigned = blocked.select(
        "vec_id",
        "embedding",
        "g",
        F.explode(F.array([F.lit(p) for p in range(G)])).alias("p"),
    ).select(
        "vec_id",
        "embedding",
        "g",
        (F.least("g", "p") * G + F.greatest("g", "p")).alias("bp"),
    )
    cand = assigned.groupBy("bp").applyInPandas(
        block_pairs, schema="vec_id_a long, vec_id_b long"
    )
    # Exact verification pass over the (tiny) candidate set: same fold
    # order and scalar division as dedup_embedding_cosine. Plain equi
    # joins — AQE broadcasts the candidate side when it is small; the
    # corpus side is never collected or broadcast wholesale.
    a = e.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("va"),
        norm2(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("vb"),
        norm2(F.col("embedding")).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "vec_id_a")
        .join(b, "vec_id_b")
        .select("vec_id_a", "vec_id_b", sim.alias("raw_sim"))
        .filter(F.col("raw_sim") >= TAU)
        .select("vec_id_a", "vec_id_b", F.round("raw_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Banded SRP-LSH + exact verify: the headline embedding-dedup composition
# ---------------------------------------------------------------------------

_SRP_BANDS = 4
_SRP_ROWS = 4  # sign bits per band at the oracle SFs
# corpora above this row count take the EARLY candidate dedupe (ids-only
# dropDuplicates before the wide embedding join-backs — the measured x100m
# winner); at or below it the distinct runs on the few tau survivors
# instead. Module-level so tests can drive the large-n branch directly.
_SRP_EARLY_DEDUPE_N = 20_000
# sign bits per band scale with corpus size (clamped here): bucket
# population ~ n / 2^rows, so FIXED rows make candidate pairs grow
# ~n^2/2^rows — the x100 sweep measured exactly that (16 buckets x
# 12.5k rows each at 200k vectors = 5e9 candidates, >cap). Target
# ~128 rows/bucket: rows = clamp(4, 12, ceil(log2(n/128))). At the
# oracle SFs (n <= 2000) this resolves to 4, so buckets, candidates
# and results are bit-identical to the committed DuckDB oracle; the
# adaptive width only engages beyond them. True near-dups survive
# narrower buckets: at cos 0.999 the per-bit agreement is 0.992, so
# a 12-bit band still collides with p~0.91 and 4 bands reach ~0.99993.
_SRP_ROWS_MAX = 12
_SRP_DIM = 64
_SRP_PLANES = plane_components(_SRP_BANDS * _SRP_ROWS_MAX, _SRP_DIM)
_SRP_TAU = 0.4


def _srp_rows_for(n: int) -> int:
    import math

    if n <= 128:
        return _SRP_ROWS
    return min(
        _SRP_ROWS_MAX, max(_SRP_ROWS, math.ceil(math.log2(n / 128)))
    )


def _srp_bucket_spark(vec, band: int, rows: int = _SRP_ROWS):
    """band-local bucket id: `rows` sign bits under md5-derived
    hyperplanes (deterministic literals, duplicated into the oracle;
    plane indices are band*rows+j, which at rows=4 — every oracle SF
    — reproduce the committed oracle's planes exactly)."""
    out = F.lit(0)
    for j in range(rows):
        plane = _SRP_PLANES[band * rows + j]
        proj = F.aggregate(
            F.zip_with(vec, F.lit(plane), lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("int")


def _srp_bucket_duck(e: str, band: int) -> str:
    bits = []
    for j in range(_SRP_ROWS):
        plane = _SRP_PLANES[band * _SRP_ROWS + j]
        proj = (
            f"list_sum(list_transform(range(1, {_SRP_DIM} + 1), "
            f"i -> CAST({e}[i] AS DOUBLE) * {plane_duck(plane)}[i]))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _srp_verified_oracle() -> str:
    dot_ab = (
        f"list_sum(list_transform(range(1, {_SRP_DIM} + 1),"
        " i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform(range(1, {d} + 1),"
        " i -> CAST({e}[i] AS DOUBLE) * CAST({e}[i] AS DOUBLE))))"
    )
    arms = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, embedding, {b} AS band,"
        f" {_srp_bucket_duck('embedding', b)} AS bucket FROM embeddings"
        for b in range(_SRP_BANDS)
    )
    cos = (
        f"{dot_ab} / ({nrm.format(e='ea', d=_SRP_DIM)}"
        f" * {nrm.format(e='eb', d=_SRP_DIM)})"
    )
    return f"""
    WITH banded AS (
{arms}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             a.embedding AS ea, b.embedding AS eb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, ROUND({cos}, 6) AS cos_sim
    FROM cand WHERE {cos} >= {_SRP_TAU}
    """


@query(
    "dedup_embedding_lsh_verified",
    oracle=_srp_verified_oracle(),
    description="Headline embedding near-dedup at scale: sign-random-"
    "projection LSH banding (4 bands x 4 sign bits under deterministic "
    "md5-derived hyperplanes) generates candidate pairs ONLY within "
    "matching (band, bucket) — an equi-join keyed by bucket, never a "
    "cross join — and the exact JVM cosine fold then verifies each "
    "candidate against tau=0.4. This is the composition the all-pairs "
    "variants (dedup_embedding_cosine/_blocked) serve as oracle-parity "
    "baselines for: work is sum of squared bucket sizes, not corpus^2, "
    "and skew is bounded per bucket. Banding recall at tau=0.4 is ~50% "
    "per the SRP collision bound (1 - theta/pi)^rows; at 100 TB you "
    "raise rows-per-band and bands together to tune recall/cost. "
    "Hyperplane constants are embedded verbatim in the DuckDB oracle, "
    "so buckets, candidates, and verified pairs are all oracle-exact.",
    tags=("dedup", "similarity", "lsh"),
)
def dedup_embedding_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.operators.similarity import dot, norm2

    e = spread(load(spark, sf_dir, "embeddings"))
    # corpus-adaptive band width (see _srp_rows_for): an O(1) scalar
    # count — the same bounded driver-read class as the k-means model
    n = e.count()
    rows = _srp_rows_for(n)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _srp_bucket_spark(
                    F.col("embedding"), b, rows
                ).alias("bucket"),
            )
            for b in range(_SRP_BANDS)
        ]
    )
    # Norms are per-row scalars: compute them ONCE before banding (O(n d))
    # and carry them through the join instead of refolding O(cand x d).
    # the band join and the candidate dedupe move IDS ONLY: carrying
    # the two 64-float embeddings through the bucket join made every
    # candidate row ~0.5 KB — at x100 (4e7 candidates) a ~20 GB
    # dropDuplicates exchange, the measured cap cause. Embeddings are
    # joined back per side AFTER the dedupe, so the wide rows never
    # enter the candidate shuffle.
    #
    # emb (vec_id, embedding, nrm) is materialized ONCE and feeds both
    # join-back sides AND the banding pass: without the barrier each
    # side re-scanned + re-repartitioned the corpus per execution
    # (history/plans/r13/dedup_embedding_lsh_verified_before.txt: 4 parquet
    # scans, 12 exchanges -> after: the two join-backs read the
    # checkpointed row set).
    emb = e.select(
        "vec_id", "embedding", norm2(F.col("embedding")).alias("nrm")
    ).localCheckpoint(eager=True)
    banded = (
        emb.select("vec_id", F.explode(bands).alias("bb"))
        .select("vec_id", "bb.band", "bb.bucket")
        .localCheckpoint(eager=True)  # both join sides reuse the sketches
    )
    a = banded.select(
        F.col("vec_id").alias("vec_id_a"), "band", "bucket"
    )
    b = banded.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    # Dedupe placement is SIZE-ADAPTIVE (r13, decided from the n the
    # band-width adaptation already counted — a physical-plan choice,
    # not a result change; both placements are value-identical and the
    # small-n path is pinned by test_opt_r13):
    # * small corpora (every oracle SF): skip the pre-verify dedupe —
    #   the 463k-row id exchange at sf0.1 cost 0.68 s to save ~10 %
    #   duplicate fold work, and the distinct is taken on the few
    #   hundred tau survivors instead.
    # * at scale: the mutated-x100 corpus is near-dup-heavy, so
    #   multi-band colliders are NOT rare — re-verifying them regressed
    #   the 92.7 s x100m row past the 120 s cap; the ids-only
    #   dropDuplicates before the wide join-backs is the measured
    #   winner there (the r13-build 'ids only' fix).
    cand = a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("bucket") == F.col("bucket_b"))
        & (F.col("vec_id_a") < F.col("vec_id_b")),
    ).select("vec_id_a", "vec_id_b")
    dedupe_early = n > _SRP_EARLY_DEDUPE_N
    if dedupe_early:
        cand = cand.dropDuplicates(["vec_id_a", "vec_id_b"])
    ea = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    out = (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .select("vec_id_a", "vec_id_b", sim.alias("raw_sim"))
        .filter(F.col("raw_sim") >= _SRP_TAU)
        .select("vec_id_a", "vec_id_b", F.round("raw_sim", 6).alias("cos_sim"))
    )
    if dedupe_early:
        # pairs are already unique (pre-verify dropDuplicates ran); a
        # second distinct here would just add a survivor-keyed exchange
        return out
    # distinct over SURVIVORS only (duplicate candidates score
    # identically, so post-filter dedupe is value-identical)
    return out.dropDuplicates(["vec_id_a", "vec_id_b"])


# ---------------------------------------------------------------------------
# Duplicate clustering: candidate pairs -> connected components -> canonical
# ---------------------------------------------------------------------------


# Round cap for connected_components.  Large-star/small-star converged
# in 5, 8 and 10 rounds on 30-, 200- and 1,000-node paths.
_COMPONENT_MAX_ROUNDS = 64


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(node, comp) for every endpoint of `edges`, comp = the minimum
    node id of its component.

    Alternating large-star/small-star (Kiveris et al., *Connected
    Components in MapReduce and Beyond*, SoCC 2014) over the edges kept
    as (a, b) with a < b: large-star links each edge's larger end to
    the smallest neighbour of its smaller end; small-star links each
    node and its smaller neighbours to the smallest of those.  Rounds
    grow with log n, not with the diameter as in min-label propagation;
    each is one plans.recursive.fixpoint round.  The edges have
    converged when they form one star per component rooted at its
    minimum: no node with a smaller neighbour has a second edge.
    Counting such nodes is the round's one action.
    """
    pairs = edges.select(  # read once: the caller's pair join is costly
        F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
    ).localCheckpoint(eager=False)
    stars = pairs.filter("a < b").distinct()
    rounds = fixpoint(
        stars, _star_round, max_rounds=_COMPONENT_MAX_ROUNDS,
        what="connected_components",
    )
    for stars in rounds:
        ends = stars.select(F.col("b").alias("n"), F.lit(1).alias("up"))
        ends = ends.unionAll(stars.select("a", F.lit(0)))
        deg = ends.groupBy("n").agg(F.sum("up").alias("up"), F.count("*").alias("d"))
        if deg.filter("up > 0 AND d > 1").count() == 0:
            break
    nodes = pairs.select(F.col("a").alias("node"))
    nodes = nodes.union(pairs.select("b")).distinct()
    leaves = stars.select(F.col("b").alias("node"), F.col("a").alias("comp"))
    return nodes.join(leaves, "node", "left").select(
        "node", F.coalesce("comp", "node").alias("comp")
    )


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star then one small-star step over (a < b) edges."""
    low = e.groupBy("b").agg(F.min("a").alias("m")).withColumnRenamed("b", "a")
    e = e.join(low, "a", "left").select(F.coalesce("m", "a").alias("a"), "b")
    e = e.withColumn("m", F.min("a").over(Window.partitionBy("b")))
    small = e.filter("a > m").select(F.col("m").alias("a"), F.col("a").alias("b"))
    return small.union(e.select(F.col("m").alias("a"), "b")).distinct()


def _components_oracle() -> str:
    from litebase_spark.catalog import REGISTRY

    jaccard_sql = REGISTRY["dedup_ngram_jaccard"].oracle
    return f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({jaccard_sql})),
    nodes AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ),
    comp AS (
      SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
    )
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members,
           doc_id = component AS is_canonical
    FROM comp
    """


@query(
    "dedup_components",
    oracle=_components_oracle(),
    description="Duplicate-cluster assembly — the step after candidate "
    "pairs that every production dedup needs: near-dup pairs (exact "
    "n-gram Jaccard tier; at 100 TB the MinHash-LSH pairs feed the same "
    "input) -> connected components (large-star/small-star) -> one "
    "canonical doc per cluster (min doc_id) with cluster size. Transitive "
    "closure matters: A~B, B~C groups {A,B,C} even when A!~C — the "
    "fixture contains such a chain. Oracle: DuckDB recursive-CTE "
    "reachability.",
    tags=("dedup", "graph"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    labels = connected_components(pairs, "doc_a", "doc_b")
    w_comp = F.count(F.lit(1)).over(Window.partitionBy("component"))
    out = labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    return out.select(
        "doc_id",
        "component",
        w_comp.alias("n_members"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


def _semantic_oracle() -> str:
    from litebase_spark.operators.similarity import (
        DIM,
        _SQL_DOT,
        _SQL_NORM,
        kmeans_oracle_ctes,
    )

    dot = _SQL_DOT.format(a="a.embedding", b="b.embedding", n=DIM)
    return f"""
    WITH RECURSIVE {kmeans_oracle_ctes(10, 2)},
    cellv AS (
      SELECT vec_id, cid AS cluster_id, embedding,
             {_SQL_NORM.format(a='embedding', n=DIM)} AS nrm
      FROM fin
    ), pairs AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM cellv a JOIN cellv b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {dot} / (a.nrm * b.nrm) >= 0.4
    ), nodes AS (
      SELECT va AS v FROM pairs UNION SELECT vb FROM pairs
    ), edges AS MATERIALIZED (
      SELECT va AS s, vb AS d FROM pairs UNION SELECT vb, va FROM pairs
    ), reach(src, dst) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ), comp AS (
      SELECT src AS v, MIN(dst) AS comp FROM reach GROUP BY src
    )
    SELECT c.vec_id, c.cluster_id,
           COALESCE(p.comp, c.vec_id) AS dup_group,
           COALESCE(p.comp, c.vec_id) = c.vec_id AS keep
    FROM cellv c LEFT JOIN comp p ON p.v = c.vec_id
    """


@query(
    "dedup_semantic",
    oracle=_semantic_oracle(),
    description="SemDeDup-style semantic dedup: Lloyd's k-means partitions "
    "the embedding corpus into cells, exact cosine runs ONLY within each "
    "cell (self-join keyed by cluster_id), pairs above threshold collapse "
    "to connected components, min vec_id survives. 100 TB: the pairwise "
    "work drops from O(n^2) to sum of per-cell squares — pick k ~ n/1e5 "
    "so cells stay executor-sized; the cluster_id shuffle key bounds skew "
    "by cell size. The price is recall: cross-cell near-dups are missed "
    "(tests measure the subset relation vs the exact pair set). The "
    "whole chain — 2-iteration k-means, within-cell cosine, transitive "
    "closure — is deterministic and oracle-checked (DuckDB unrolled-CTE "
    "k-means replay + recursive-CTE reachability), upgraded from round "
    "1's rows-only carve-out.",
    tags=("dedup", "similarity", "iterative"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from litebase_spark.operators.similarity import (
        dot,
        kmeans_fit,
        norm2,
    )

    TAU = 0.4
    e = spread(load(spark, sf_dir, "embeddings"))
    # corpus-adaptive cell count (the docstring's 'pick k ~ n/cell'
    # made concrete): fixed k makes per-cell pairwise work grow n^2/k
    # — the x100 sweep measured 10 cells x 20k rows = 2e9 in-cell
    # pairs, >cap. Target ~1k-row cells, clamped so every oracle SF
    # (n <= 2000) keeps k = K_CLUSTERS and stays bit-identical to the
    # committed DuckDB k-means replay.
    n = e.count()
    from litebase_spark.operators.similarity import K_CLUSTERS

    k = min(128, max(K_CLUSTERS, n // 1024))
    assigned, _ = kmeans_fit(e, k=k, iters=2)
    cell = assigned.select(
        "vec_id",
        "cluster_id",
        "embedding",
        norm2(F.col("embedding")).alias("nrm"),
    ).localCheckpoint(eager=True)
    a = cell.select(
        F.col("cluster_id").alias("ca"),
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cell.select(
        F.col("cluster_id").alias("cb"),
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(
            b,
            (F.col("ca") == F.col("cb"))
            & (F.col("vec_id_a") < F.col("vec_id_b")),
        )
        .select("vec_id_a", "vec_id_b", sim.alias("raw_sim"))
        .filter(F.col("raw_sim") >= TAU)
        .select("vec_id_a", "vec_id_b")
    )
    comps = connected_components(pairs, "vec_id_a", "vec_id_b")
    return (
        cell.join(comps, cell["vec_id"] == comps["node"], "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce("comp", F.col("vec_id")).alias("dup_group"),
            (F.coalesce("comp", F.col("vec_id")) == F.col("vec_id")).alias(
                "keep"
            ),
        )
    )


def _incremental_oracle() -> str:
    """DuckDB replay of the incremental probe: same signature/banding
    CTEs as _minhash_lsh_oracle, asymmetric index<-batch join, best
    match per new doc."""
    rows = N_HASHES // N_BANDS
    sig_items = ",\n        ".join(
        f"list_min(list_transform(bh, x -> {affine_duck('x', a, b)}))"
        for a, b in _MINHASH_AB
    )
    arms = "\n      UNION ALL\n".join(
        "      SELECT doc_id, sig, {b} AS band, md5({cc}) AS bucket"
        " FROM sig".format(
            b=b,
            cc=" || ',' || ".join(
                f"CAST(sig[{b * rows + j + 1}] AS VARCHAR)"
                for j in range(rows)
            ),
        )
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN i.sig[{k}] = n.sig[{k}] THEN 1 ELSE 0 END"
        for k in range(1, N_HASHES + 1)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS w FROM documents
    ), sh AS (
      SELECT doc_id, CASE WHEN len(w) >= 3
          THEN list_distinct(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
          ELSE [array_to_string(w, ' ')] END AS shingles
      FROM toks WHERE len(w) > 0
    ), base AS (
      SELECT doc_id, list_transform(shingles, s -> {h60_duck('s')}) AS bh
      FROM sh
    ), sig AS (
      SELECT doc_id, [{sig_items}] AS sig FROM base
    ), banded AS (
{arms}
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS idx_doc,
             ({matches}) / {float(N_HASHES)} AS est
      FROM banded i JOIN banded n
        ON i.band = n.band AND i.bucket = n.bucket
      WHERE (n.doc_id % 5) = 0 AND (i.doc_id % 5) <> 0
        AND ({matches}) / {float(N_HASHES)} >= 0.4
    ), best AS (
      SELECT new_doc, idx_doc, est,
             ROW_NUMBER() OVER (PARTITION BY new_doc
                                ORDER BY est DESC, idx_doc) AS rn
      FROM cand
    )
    SELECT d.doc_id,
           (b.idx_doc IS NOT NULL) AS is_dup,
           b.idx_doc AS dup_of,
           b.est AS est_jaccard
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.new_doc
    WHERE (d.doc_id % 5) = 0
    ORDER BY d.doc_id
    """


@query(
    "dedup_incremental_minhash",
    oracle=_incremental_oracle(),
    description="Incremental near-dedup — the continuous-ingestion "
    "production shape: an arriving batch (doc_id % 5 = 0, ~20%) is "
    "probed against the already-ingested corpus index (the rest) "
    "through the SAME banded minhash join as dedup_minhash_lsh, never "
    "a batch x corpus comparison. Per new document: admit, or "
    "duplicate-of with the best-matching index doc (est Jaccard >= "
    "0.4, deterministic tie-break). At 100 TB the index side's banded "
    "signatures are a persisted table partitioned by (band, bucket) — "
    "only the batch recomputes signatures, and the probe shuffles the "
    "batch alone. est = matches/32 is exact in both engines (power-of-"
    "two divisor).",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(d).localCheckpoint(eager=True)
    banded = band_signatures(sigs, N_BANDS, N_HASHES // N_BANDS)
    idx = banded.filter(F.pmod("doc_id", F.lit(5)) != 0).alias("i")
    new = banded.filter(F.pmod("doc_id", F.lit(5)) == 0).alias("n")
    est = (
        F.size(
            F.filter(
                F.zip_with("i.sig", "n.sig", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / N_HASHES
    )
    cand = (
        idx.join(
            new,
            (F.col("i.band") == F.col("n.band"))
            & (F.col("i.bucket") == F.col("n.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("i.doc_id").alias("idx_doc"),
            est.alias("est"),
        )
        .filter(F.col("est") >= 0.4)
        .dropDuplicates(["new_doc", "idx_doc"])
    )
    w = Window.partitionBy("new_doc").orderBy(F.desc("est"), "idx_doc")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    batch = d.filter(F.pmod("doc_id", F.lit(5)) == 0).select("doc_id")
    return (
        batch.join(best, batch.doc_id == best.new_doc, "left")
        .select(
            "doc_id",
            F.col("idx_doc").isNotNull().alias("is_dup"),
            F.col("idx_doc").alias("dup_of"),
            F.col("est").alias("est_jaccard"),
        )
        .orderBy("doc_id")
    )


def _dedup_recall_oracle() -> str:
    from litebase_spark.catalog import REGISTRY

    truth = REGISTRY["dedup_ngram_jaccard"].oracle
    cand = REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
    WITH truth AS ({truth}),
    cand AS ({cand})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           CAST(SUM(CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           (SUM(CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000) // COUNT(*) AS recall_e6
    FROM truth LEFT JOIN cand
      ON cand.doc_a = truth.doc_a AND cand.doc_b = truth.doc_b
    """


@query(
    "pipeline_dedup_recall",
    oracle=None,  # assembled below from the two registered oracles
    description="Dedup quality gate: recall of the MinHash-LSH candidate "
    "pairs against exact n-gram Jaccard ground truth (threshold 0.5) — "
    "the evaluation every production dedup pipeline runs when tuning "
    "bands/rows/threshold. Composes two oracle-exact registered "
    "queries; recall in integer e-6 fixed point (DIV — no rounding "
    "ties). At 100 TB ground truth comes from a sampled corpus slice, "
    "which is this same dataflow behind a hash-sample filter.",
    tags=("dedup", "eval", "pipeline"),
)
def pipeline_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("ta"), F.col("doc_b").alias("tb"))
    # candidate set is referenced twice (join probe + its own count):
    # checkpoint once, and bring the count in as a 1-row cross join
    # (scalar-subquery shape), not a driver-side action at build time
    cand = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb"),
        F.lit(1).alias("hit")).localCheckpoint(eager=True)
    cand_n = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"))
    j = truth.join(
        cand,
        (F.col("ta") == F.col("ca")) & (F.col("tb") == F.col("cb")),
        "left",
    )
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            n_hits.alias("n_hits"),
            F.expr(
                "CAST(sum(coalesce(hit, 0)) * 1000000 AS BIGINT)"
                " DIV count(1)"
            ).alias("recall_e6"),
        )
        .crossJoin(cand_n)
        .select("n_true_pairs", "n_candidates", "n_hits", "recall_e6")
    )


from litebase_spark.catalog import REGISTRY as _DEDUP_REGISTRY  # noqa: E402

_DEDUP_REGISTRY["pipeline_dedup_recall"].oracle = _dedup_recall_oracle()


def _survivorship_oracle() -> str:
    jaccard_sql = _DEDUP_REGISTRY["dedup_ngram_jaccard"].oracle
    toks = _SQL_TOKENS.format(c="text")
    return f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({jaccard_sql})),
    nodes AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.dst
    ),
    comp AS (
      SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
    ),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct({toks})) AS BIGINT) * 1000000
               // len({toks}) AS quality_e6,
             CAST(len({toks}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT c.component, c.doc_id, q.quality_e6, q.n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY c.component
               ORDER BY q.quality_e6 DESC, q.n_tokens DESC, c.doc_id
             ) AS rn
      FROM comp c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT component,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
           MAX(CASE WHEN rn = 1 THEN quality_e6 END) AS keeper_quality_e6,
           COUNT(*) AS n_members,
           COUNT(*) - 1 AS n_dropped
    FROM ranked GROUP BY component
    """


@query(
    "pipeline_survivorship",
    oracle=_survivorship_oracle(),
    description="Duplicate-cluster SURVIVORSHIP — the decision "
    "dedup_components stops short of: which copy actually enters the "
    "training corpus. Near-dup pairs (n-gram Jaccard tier; MinHash-LSH "
    "feeds the same input at 100 TB) -> connected components -> keeper "
    "per cluster by QUALITY, not by id: highest distinct-token ratio "
    "(integer e6 — engine-exact), ties to the longer doc, then lowest "
    "doc_id. Per cluster: keeper, its quality, member/dropped counts. "
    "The quality join touches only docs that appear in some pair "
    "(components' node set), so the survivorship pass costs O(dup "
    "docs), not O(corpus); the window runs per-component (shallow "
    "near-cliques). Oracle: recursive-CTE reachability + the same "
    "ROW_NUMBER ordering.",
    tags=("pipeline", "dedup", "graph"),
)
def pipeline_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    labels = connected_components(pairs, "doc_a", "doc_b")
    w = tokens("text")
    q = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CAST(size(array_distinct(filter(split(lower(text),"
            " '[^a-z0-9]+'), x -> length(x) > 0))) AS BIGINT) * 1000000"
            " DIV size(filter(split(lower(text), '[^a-z0-9]+'),"
            " x -> length(x) > 0))"
        ).alias("quality_e6"),
        F.size(w).cast("long").alias("n_tokens"),
    )
    m = labels.join(q, labels.node == q.doc_id).select(
        F.col("comp").alias("component"), "doc_id", "quality_e6", "n_tokens"
    )
    win = Window.partitionBy("component").orderBy(
        F.desc("quality_e6"), F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = m.withColumn("rn", F.row_number().over(win))
    return ranked.groupBy("component").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
            "keeper_doc_id"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("quality_e6"))).alias(
            "keeper_quality_e6"
        ),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )

"""Scale-stress replicas: how plans behave as data grows 1x-16x.

sf0.1 is the largest shipped fixture; ``build_replica``
manufactures k-times fact-table replicas (key-shifted unions — facts
grow, dims stay fixed, exactly how a real warehouse scales) and
``QUERIES`` names a representative operator per family. The question
they answer is the 100 TB question in miniature: is the time curve
~linear in fact rows (shuffle-bound plans should be n log n at worst),
or does some plan hide quadratic work / a single-process bottleneck
that only shows past the bench SF?

Replication contract: o_orderkey/l_orderkey/doc_id/event_id/vec_id are
shifted by k*1e9 per replica k, so keys stay unique, join fan-outs per
key stay constant, and group cardinalities scale the way production
growth scales them. Dimension tables (region/nation/customer/supplier/
part) are NOT replicated. Pair-forming similarity ops (minhash/LSH/
embedding dedup) are excluded by design: replicated text forms n-times
larger duplicate clusters, so their work profile changes semantically,
not just in volume — their scale arguments live in SCALE.md (banding
math), not in a replica test.

Time them with the layer table, one run per scale (x1 is the base):
  python tools/layers.py scale_stress --out x1.md
  python tools/layers.py scale_stress --x 16 --out x16.md
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/litebase_scale_stress"

# (table, key columns to shift per replica)
_FACTS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
_DIMS = ("region", "nation", "customer", "supplier", "part")

# One representative per plan family; all linear-work by design.
QUERIES = [
    "q1_pricing_summary",        # scan + wide agg
    "q9_product_profit",         # multi-join star
    "q18_large_volume_customer", # semi-join on an aggregate
    "window_running_sum",        # keyed window
    "dedup_exact",               # hash-groupBy dedup
    "agg_approx_distinct",       # portable HLL sketch
    "text_quality_score",        # narrow JVM text map
    "text_bm25",                 # posting-list top-k retrieval
    "pipeline_pack_sequences",   # per-shard running-sum packing
    "graph_pagerank",            # iterative: 5 shuffle rounds
    "ts_anomaly_zscore",         # bucketed window analytics
    "profile_lineitem_stats",    # one-scan multi-distinct profile
    "text_substring_dedup",      # gram-anchored span merge (2 exchanges)
    "pipeline_weighted_sample",  # hash-decided sampling (narrow map)
    # round 6 re-plans + new family
    "q7_volume_shipping",        # dimension-pushed double fact reduction
    "q10_returned_items",        # pre-agg + shuffle-hash fact join
    "q12_priority_lateness",     # pre-reduced two-exchange join
    "join_range_interval",       # time-bucketed range join
    "join_salted_skew",          # adaptive skew join (plain regime)
    "pipeline_dsir_weights",     # shared-exchange corpus fan-out
    # multimodal_phash_dedup is pair-forming (identical replica copies
    # collide in every band) — excluded like the minhash/SRP dedups
    # round 7 (all linear-work by construction)
    "ts_ewma_smooth",            # 32-tap keyed window smoothing
    "ts_scd2_intervals",         # CDC -> SCD-2, one keyed exchange
    "ts_changepoint_cusum",      # three windows over one exchange
    "stats_ks_test",             # cells-not-corpus value-grid windows
    "join_interval_overlap",     # bucketed interval x interval join
    "layout_hilbert",            # 8-level unrolled clustering key
    "pipeline_compaction_plan",  # manifest cumsum binning
    "multimodal_audio_energy",   # Arrow decode-stage PCM windows
    # text_containment_rare is pair-forming — same exclusion class
    # round 8 (all linear-work by construction)
    "text_winnowing_fingerprint",  # sliding-min over one doc-keyed exchange
    "stats_mann_whitney_u",      # cells-not-corpus rank windows
    "pipeline_tokenizer_fertility",  # one-scan (source, lang) rollup
    "multimodal_frame_diff",     # Arrow decode-stage frame SAD
    "agg_cube",                  # cube over pre-aggregated cells
    "ts_acf_lags",               # bucketed raw-moment lag windows
    "stats_cramers_v",           # cells-not-corpus effect size
    "stats_welch_ttest",         # 6-cell two-sample reduce
    # round 9 (all linear-work by construction)
    "window_range_frame",        # distributed-CDF value-frame count
    "stats_levene_test",         # sign-split abs-deviation algebra
    "stats_spearman_rho",        # bucketed midrank CDF + rank join
    "ts_cross_correlation",      # day-grid lead-lag Pearson
    "pipeline_quality_funnel",   # one-scan cascade + digest window
    "stats_kruskal_wallis",      # k-arm midrank cells
    "stats_kendall_tau",         # pairs-from-cells 2D prefix grid
    "pipeline_ngram_novelty",    # gram-keyed min-doc first occurrence
    # round 10 (all linear-work by construction)
    "stats_psi",                 # $5-bin conditional-count cells
    "stats_js_divergence",       # same cells, mixture log-ratio
    "stats_wasserstein_1d",      # domain-bounded CDF-gap integral
    "stats_benford",             # 9-digit cells from cents strings
    "stats_anova_f",             # k-arm sum/sumsq cells
    "ts_theil_sen",              # day-grid pairwise-slope median
    "ts_page_hinkley",           # day-grid decimal running state
    "ts_mann_kendall",           # day-grid pairwise signs
    "text_zipf_fit",             # term-keyed count + top-500 fit
    "text_lexical_diversity",    # (source, term)-keyed count cells
    "text_bigram_logppl",        # bigram-LM scoring join
    "graph_k_core",              # iterative degree-peel fixpoint
    "ts_holt_forecast",          # 28-tap compiled Holt smoother
    "pipeline_incremental_novelty",  # batch-probe gram index
    # r11
    "stats_drift_report_multi",  # stacked 3-col cells + bucketed CDF
    "fts_match_porter",          # vocab-side porter + broadcast map
]

_SHIFT = 10**9

# fact files per table: match local[32] so the scan packs into
# wave-even splits. The old per-copy layout (k files of ~1.6 MB)
# packed into 34 uneven splits on 32 cores — a 2-wave tail that
# halved scan-stage utilization and inflated every sweep number by
# up to ~2x (measured on func_jsonb: ~12s -> ~10s from layout
# alone). Range-partitioned on the shifted key, so per-file min/max
# pruning survives.
_FILES = 32

# mutated-replica knobs (see build_replica docstring)
_NEAR_PCT = 2        # % of copies that are true near-duplicates
_NEAR_TOKEN_PCT = 5  # token mutation rate inside a near-dup copy
_FAR_TOKEN_PCT = 70  # token mutation rate inside a distinct copy
_NEAR_EMB_NOISE = 0.02


def _mut_documents(df, i: int):
    """Per-copy deterministic token-level mutation of documents.

    Copy i of every doc is either a NEAR-DUP (2% of copies: 5% of
    tokens replaced -> 3-gram shingle survival 0.95^3 ~ 0.857,
    Jaccard ~ 0.75, comfortably above the 0.4 dedup threshold) or
    DISTINCT (70% of tokens replaced with copy-salted novel tokens
    -> survival 0.3^3 = 2.7%, Jaccard ~ 0.014, far below it, and
    the novel tokens share nothing across copies so posting lists
    stay near-linear). All hash-decided -- deterministic, no RNG."""
    from pyspark.sql import functions as F

    near = (
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(i), F.lit(0xD0C)),
               F.lit(100)) < _NEAR_PCT
    )
    rate = F.when(near, F.lit(_NEAR_TOKEN_PCT)).otherwise(
        F.lit(_FAR_TOKEN_PCT)
    )
    mut = F.transform(
        F.split(F.col("text"), " "),
        lambda t, p: F.when(
            F.pmod(F.xxhash64(t, p, F.col("doc_id"), F.lit(i)),
                   F.lit(100)) < rate,
            F.concat(
                t, F.lit("~"),
                F.lower(F.hex(F.xxhash64(t, p, F.col("doc_id"),
                                         F.lit(i)))),
            ),
        ).otherwise(t),
    )
    return df.withColumn("text", F.array_join(mut, " ")).withColumn(
        "n_chars", F.length("text")
    )


def _mut_embeddings(df, i: int):
    """Per-copy embedding mutation: near-dup copies (2%) get the
    original vector plus tiny noise (cos ~ 0.999 vs the original);
    distinct copies get a fresh hash-derived direction (cos vs
    anything concentrates at 0 +- 1/sqrt(64)). NB: at dim 64 the
    chance tail P(cos >= 0.4) ~ 5e-4 is intrinsic — the BASE
    corpus's 920 pairs at the registry threshold 0.4 are exactly
    that tail — so at-scale dedup measurements must probe at a
    high threshold (0.9) where only manufactured near-dups match;
    tools/dedup_x100.py does."""
    from pyspark.sql import functions as F

    near = (
        F.pmod(F.xxhash64(F.col("vec_id"), F.lit(i), F.lit(0xE3B)),
               F.lit(100)) < _NEAR_PCT
    )

    def noise(j):
        return (
            F.pmod(F.xxhash64(F.col("vec_id"), j, F.lit(i)),
                   F.lit(2000001))
            / F.lit(1000000.0) - F.lit(1.0)
        )

    mut = F.transform(
        F.col("embedding"),
        lambda v, j: F.when(
            near, v + F.lit(_NEAR_EMB_NOISE) * noise(j)
        ).otherwise(noise(j)).cast("float"),
    )
    return df.withColumn("embedding", mut)


def build_replica(spark, k: int, mutate: bool = False) -> str:
    """Write the k-times replicated fixture dir (idempotent).

    mutate=False: verbatim copies (keys shifted). Join/agg work
    scales faithfully, but TEXT and EMBEDDINGS become degenerate
    for pair-forming ops: every doc gains k-1 exact clones, so
    candidate pairs grow ~k^2 inside every bucket — a replica
    artifact, not a plan property.

    mutate=True (dir suffix `m`): documents/embeddings copies are
    deterministically mutated so duplicate DENSITY stays realistic
    — ~2% of copies are true near-dups of their original, the rest
    are distinct documents/vectors (novel copy-salted tokens, fresh
    directions). This is the replica the dedup family is measured
    on: bucket sizes and pair counts reflect a real corpus where
    near-dup rate is a few percent, not a 100-clone family per doc."""
    out = f"{WORK}/x{k}m" if mutate else f"{WORK}/x{k}"
    marker = f"{out}/.complete_v2"
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    from pyspark.sql import functions as F

    for t in _DIMS:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode(
            "overwrite").parquet(f"{out}/{t}.parquet")
    for t, keys in _FACTS.items():
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        parts = []
        for i in range(k):
            p = df
            if mutate and i > 0 and t == "documents":
                p = _mut_documents(p, i)
            if mutate and i > 0 and t == "embeddings":
                p = _mut_embeddings(p, i)
            for key in keys:
                p = p.withColumn(key, F.col(key) + F.lit(i * _SHIFT))
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        u.repartitionByRange(_FILES, F.col(keys[0])).write.mode(
            "overwrite").parquet(f"{out}/{t}.parquet")
    open(marker, "w").close()
    return out

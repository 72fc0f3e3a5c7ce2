"""Partition-invariance gate: rerun the iterative/sketch operators under
a deliberately awkward parallelism (local[5], 7 shuffle partitions) and
compare values against the DuckDB oracle.

The engine's determinism contract says results are independent of
partitioning — integer/fixed-point folds, deterministic tie-breaks, no
order-dependent double sums. The sf0.01/sf0.1 sweeps verify it at the
default local[32]/32; this tool verifies the CONTRACT by changing the
execution geometry (different partition counts change sum order, task
boundaries, and AQE decisions — anything order-dependent breaks here).

Runs standalone (needs its own JVM config, so it cannot share the pytest
session): python tools/partition_invariance.py
Exit code = number of failures. Round-3 run: 15/15 PASS.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import duckdb

import litebase_spark.operators  # noqa: F401
from litebase_spark.catalog import REGISTRY, TABLES
from litebase_spark.session import get_spark
from tools.check_oracle import canon_rows

SF = "/root/testdata/sf0.01"

# Every operator whose result could plausibly depend on partitioning:
# iterative fixpoints, sketches, sampled/hashed structures.
NAMES = [
    "dedup_minhash_lsh",
    "agg_approx_distinct",
    "graph_pagerank",
    "dedup_components",
    "agg_hll_sketch_rollup",
    "sketch_countmin_topk",
    "ts_anomaly_zscore",
    "dedup_incremental_minhash",
    "embedding_kmeans",
    "graph_triangle_count",
    "text_tfidf_keywords",
    "knn_filtered_search",
    "pipeline_dedup_recall",
    "text_substring_dedup",
    "pipeline_weighted_sample",
    # round 6: hashed-bucket / HLL / bucketed-join operators
    "pipeline_dsir_weights",
    "join_range_interval",
    "profile_lineitem_stats",
    # round 6 late: ordering-sensitive window ops + banding dedups
    "ts_sessionize",
    "ts_gapfill_locf",
    "multimodal_phash_dedup",
    "pipeline_survivorship",
    # round 8: the bucketed-decomposition ACF (global row numbers from a
    # prefix sum + edge-pair join must agree under any task geometry),
    # plus the new decimal-fold stats reducers
    "ts_acf_lags",
    "stats_cramers_v",
    "stats_welch_ttest",
    "sketch_hll_intersect",
    "text_winnowing_fingerprint",
    # round 9: the distributed-CDF decompositions (bucket prefix sums +
    # global ranks must agree under any task geometry), the sign-split
    # Levene fold, and the streaming band-state dedup
    "window_range_frame",
    "stats_spearman_rho",
    "stats_levene_test",
    "ts_cross_correlation",
    "pipeline_quality_funnel",
    "stream_dedup_minhash_lsh",
    # round 9 batch 2: grid prefix sums (kendall), midrank cells
    # (kruskal), min-doc-id first-occurrence tie-break (novelty)
    "stats_kendall_tau",
    "stats_kruskal_wallis",
    "pipeline_ngram_novelty",
    # round 10: decimal-fold PSI cells, min-doc-id incremental probe
    "stats_psi",
    "pipeline_incremental_novelty",
    # round 10 batch 2: ordered-window CDF cells (wasserstein), running
    # decimal PH state, median-rank pair selection (theil-sen), global
    # (freq, term) ranking (zipf) — every new order-sensitive shape;
    # jsd/benford/anova are included as decimal-fold cells reducers
    "stats_js_divergence",
    "stats_wasserstein_1d",
    "stats_benford",
    "stats_anova_f",
    "ts_theil_sen",
    "ts_page_hinkley",
    "text_zipf_fit",
    # exact-integer pairwise signs / per-source term cells
    "ts_mann_kendall",
    "text_lexical_diversity",
    # streaming keyed-state PSI twin (update-mode accumulation)
    "stream_drift_psi",
    # bigram-LM scoring join (term-keyed counts + broadcast LM)
    "text_bigram_logppl",
    # iterative peel fixpoint (checkpointed per-round edge state)
    "graph_k_core",
    # compiled-weights smoother over the ranked day tail
    "ts_holt_forecast",
    # fused PSI/JSD/KS/W1 over shared CDF + bin cells
    "stats_drift_report",
    # r11: stacked multi-column drift (per-column windows + adaptive
    # bins) and porter-stemmed MATCH (vocabulary-side stage chain +
    # broadcast map join — stem must not depend on partitioning)
    "stats_drift_report_multi",
    "fts_match_porter",
    "fts_vocab_porter",
    # r12: trigram posting algebra (anchor folds + sorted collect_list
    # arrays in the multi-run LIKE/GLOB fold), two-column vocab modes,
    # the variant-kernel jsonb rewrite (MIN over rendered text), and
    # the distributed-CDF exact percentile (bucketed cumulative
    # windows — the class this gate exists for)
    "fts_match_trigram",
    "fts_like_trigram",
    "fts_glob_trigram",
    "fts_vocab_col",
    "fts_vocab_instance",
    "func_jsonb",
    "agg_percentiles",
    "window_ntile_dist",
    "ts_interpolate",
    # r13: posting-algebra phrase+prefix probe, probed-table unicode61
    # tokenizer, the re-planned SRP-LSH candidate pipeline, and the
    # single-parse jsonb default drift split's percentile domain
    "fts_match_phrase_prefix",
    "fts_match_unicode61_sep",
    "dedup_embedding_lsh_verified",
    "stats_drift_report",
]


def main() -> int:
    spark = get_spark("pinv", master="local[5]", shuffle_partitions=7)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    fails = 0
    for name in NAMES:
        spec = REGISTRY[name]
        sdf = spec.builder(spark, SF)
        _, srows = canon_rows(sdf.columns, sdf.collect())
        cur = con.execute(spec.oracle)
        _, orows = canon_rows([d[0] for d in cur.description], cur.fetchall())
        ok = srows == orows
        print(("PASS" if ok else "FAIL"),
              f"{name} ({len(srows)} rows @ local[5]/7)")
        fails += not ok
    print(f"{len(NAMES) - fails} pass, {fails} fail")
    return fails


if __name__ == "__main__":
    sys.exit(main())

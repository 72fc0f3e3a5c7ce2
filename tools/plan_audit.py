"""Scale audit + regression gate: sweep every registered query's
physical plan for 100 TB anti-patterns, write PLAN_AUDIT.md, and EXIT
NON-ZERO on any flag (run it like a test; a new anti-pattern blocks the
round the way a failing pytest does).

Flags per query:
  * CARTESIAN       — CartesianProduct / BroadcastNestedLoopJoin outside
                      the declared broadcast-NL operators (_ALLOWED_NL)
  * PYTHON_ROW_UDF  — BatchEvalPython (row-at-a-time Python: always a bug)
  * PYTHON_ARROW_UNREVIEWED — ArrowEvalPython / mapInPandas outside the
                      reviewed kernel list (_ALLOWED_ARROW)
  * EMPTY_PUSHDOWN_SCAN — a parquet scan with PushedFilters: [] while a
                      Filter node references one of THAT scan's output
                      columns (matched by exprId, so an unrelated Filter
                      elsewhere in the plan does not trip it)
  * DRIVER_COLLECT  — a registered query builder whose source calls
                      .collect()/.toPandas()/.toLocalIterator() outside
                      the O(k) allowlist (_ALLOWED_COLLECT) — the
                      "driver materializes the corpus" scale-killer class
  * EAGER_CHECKPOINT_UNREVIEWED — a localCheckpoint() in operator/
                      function source outside the reviewed map
                      (_REVIEWED_CHECKPOINTS). Eager checkpoints run at
                      BUILD time, so the work they do is excluded from
                      steady-state warm timings (the r13 advice): every
                      site must be classified — BOUNDED (cells/vocab/
                      sketch/model), PROXY (narrow O(n) decision table,
                      measured MB), LOOP (per-round lineage cap),
                      OUTPUT (output-sized level table), or CORPUS
                      (kept only with a measured at-scale A/B + bytes
                      figure; tools/layers.py ckpt_MB)

Run:  python tools/plan_audit.py [sf_dir]     (default sf0.01)
      python tools/plan_audit.py --selftest   (prove the pushdown
          heuristic trips on a known unpushed-filter plan)
"""

from __future__ import annotations

import ast
import glob
import re
import sys

sys.path.insert(0, ".")

from litebase_spark import operators  # noqa: F401
from litebase_spark.catalog import REGISTRY
from litebase_spark.session import get_spark

# Operators whose nested-loop / cross joins are the declared physical
# strategy (broadcast query side or theta semantics), not an accident.
_ALLOWED_NL = {
    "join_theta",
    "join_cross",
    "knn_cosine_bruteforce",
    "knn_cosine_vectorized",
    "dedup_embedding_cosine",
    "dedup_embedding_blocked",
    "knn_ivf_probe",
    "knn_ivf_kmeans",
    "spatial_rtree_bbox_join",
    "q19_discounted_revenue",  # OR-of-conjuncts residual over broadcast
    "sketch_hll_union",  # 1-row grand-total cross join onto estimates
    "knn_recall_eval",  # composes bruteforce + ivf_probe (both declared)
    "knn_radius_search",  # broadcast of the N_QUERIES (5) query vectors,
    # same shape as knn_cosine_bruteforce
    "pipeline_epoch_shuffle",  # broadcast of the N_EPOCHS (2) epoch ids —
    # a constant-size replication factor, not a data-sized NL join
}

# Operators that intentionally run Arrow-batched Python (mapInPandas /
# pandas UDF kernels) — reviewed, not flagged.
_ALLOWED_ARROW = {
    "dedup_minhash_lsh",
    "dedup_embedding_blocked",
    "knn_cosine_vectorized",
    "multimodal_ingest",
    "multimodal_features",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_phash_dedup",  # decode+aHash in the Arrow decode stage;
    # only (doc_id, 8-byte hash) leaves the executor
    "pipeline_training_corpus",
    "text_chunk_dedup",
    "text_unigram_logppl",
    "stream_stateful_totals",
    "stream_scd2_apply",  # applyInPandasWithState SCD-2 fold: Arrow
    # batches per key, state is 4 scalars, emission O(changes)
    "multimodal_audio_energy",  # windowed PCM energy in the Arrow
    # decode stage; O(windows) 32-byte rows leave the executor
    "multimodal_frame_diff",  # inter-frame SAD in the Arrow decode
    # stage; O(frames) 32-byte rows leave the executor
}

# Queries whose only scan-adjacent Filter is an EXPRESSION predicate
# (computed from transforms/regex/arithmetic over scanned columns) that
# parquet cannot evaluate — reviewed round 3, each condition verified
# non-pushable by inspection of the formatted plan:
_REVIEWED_NONPUSHABLE = {
    "dedup_simhash",  # size(tokens(text)) > 0
    "embedding_quantize_int8",  # array_max(|embedding|)/127 > 0
    "fts_match_syntax_full",  # compiled FTS5 boolean over token arrays
    "func_json_tree",  # RLIKE over rendered JSON
    "geopoly_point_in_polygon",  # ray-cast aggregate over polygon rings
    "geopoly_area_overlap",  # interval/ray-cast logic over derived bboxes
    "text_hashed_linear_score",  # size(tokens(text)) > 0
    "pipeline_pack_sequences",  # size(tokens(text)) > 0
    "spatial_rtree_bbox_join",  # derived bbox arithmetic (synth geometry)
    "text_bm25",  # size(filter(tokens)) predicates
    "text_chunk_dedup",  # token-count window predicate
    "text_highlight_snippet",  # locate(term, lower(text)) > 0
    "text_pii_scrub",  # regexp_extract_all counts > 0
    "text_quality_score",  # computed quality components
    "text_repetition_ratio",  # size(tokens) threshold
    "text_topk_bigrams",  # size(tokens) >= 2
    "text_dup_5gram_fraction",  # size(tokens(text)) >= 5
    # round 4 additions, each verified by plan inspection:
    "pipeline_bpe_encode",  # size(tokens(text)) > 0
    "pipeline_quality_bins",  # size(tokens(text)) > 0
    "sketch_countmin_topk",  # isnotnull(affine-hash bucket exprs) join guards
    "text_hybrid_retrieval",  # any_tf > 0 (BM25 side; embedding-side
    # vec_id filters DO push: PushedFilters [IsNotNull, EqualTo] verified)
    "text_substring_dedup",  # size(tokens(text)) >= 8 gram-anchor guard
    "pipeline_weighted_sample",  # size(tokens(text)) > 0 weight guard
    "geopoly_within",  # ray-cast aggregate over the edge array (HOF) —
    # not a pushable predicate; the scan reads only s_suppkey
    # round 6:
    "pipeline_dsir_weights",  # size(tokens(text)) > 1 bigram guard +
    # isnotnull(hash-bucket) kept un-pushed DELIBERATELY: the explicit
    # null-key filter must sit above the shared projection so both
    # consumers of the dbc exchange have identical subtrees
    # (ReuseExchange -> single corpus scan; see operators/pipeline.py)
    "pipeline_token_budget",  # size(split(lower(text),...)) > 0 token
    # guard — computed expression, verified non-pushable by inspection
    # round 7:
    "text_containment_rare",  # size(tokens(text)) >= 3 shingle guard —
    # the shingle work itself sits behind the tokenizer barrier
    # exchange (see operators/text.py), only the cheap size() guard
    # lands in the scan stage
    "expr_null_safe_eq",  # isnotnull(o_orderkey % 100) inferred from
    # the combo-join keys — a one-op modulo guard on a non-null key,
    # verified harmless by inspection (the r7 combinatorial re-plan)
    # round 10:
    "text_bigram_logppl",  # size(tokens(text)) > 1 bigram guard —
    # same class as text_topk_bigrams; sits above the tokenizer
    # barrier, only the cheap guard is non-pushable
}

# Registered builders allowed a driver-side collect because it is O(k)
# by construction, never O(data):
_ALLOWED_COLLECT = {
    "cte_recursive_sql": "1 row: recursion date bounds",
    "knn_cosine_vectorized": "N_QUERIES (5) query vectors",
    # bpe_learn_merges (helper, outside the builder body the AST gate
    # walks) collects one argmax row per BPE round — listed here for
    # transparency, same O(k) class as the k-means centroid collect.
    "pipeline_bpe_merges": "4 argmax rows (1 per BPE round, via helper)",
    "pipeline_bpe_encode": "4 argmax rows (1 per BPE round, via helper)",
    "join_bloom_semi": "32 Bloom words (1024-bit filter) — the "
    "runtime-filter build, same driver-accumulated shape as Spark's own "
    "bloom pushdown",
    "knn_ivf_probe": "N_CENTROIDS (16) coarse-quantizer rows — the IVF "
    "model, same O(k) class as the k-means centroid collect",
    "knn_ivf_adc": "N_CENTROIDS (16) coarse-quantizer rows — the IVF "
    "model (r14: same literal-quantizer shape as knn_ivf_probe, "
    "replacing the corpus-sized assignment checkpoint)",
}

# Every localCheckpoint site in query-path source (operators/** and the
# porter stage chain), keyed by ENCLOSING FUNCTION, with its reviewed
# class. Measured MB figures are tools/layers.py's ckpt_MB at the
# x100-mutated replica (1.8 GB parquet). A new/unlisted site fails the
# audit until classified here.
_REVIEWED_CHECKPOINTS = {
    # --- bounded tables (cells / vocabulary / sketches / models) ---
    "stem_vocabulary": "BOUNDED vocab (term, stem) map — AQE join sizing "
    "+ pushdown guard over the unbarriered chain",
    "_cdf_percentiles": "BOUNDED cents-domain cell table",
    "stats_levene_test": "BOUNDED (arm, cents) cells",
    "stats_spearman_rho": "BOUNDED 50-row quantity cells",
    "stats_kendall_tau": "BOUNDED cells",
    "ts_retention_cohorts": "BOUNDED day-cell / first-seen tables",
    "ts_cross_correlation": "BOUNDED day-cell tables",
    "ts_theil_sen": "BOUNDED day-cell tables",
    "ts_mann_kendall": "BOUNDED day-cell tables",
    "sketch_hll_union": "BOUNDED HLL registers",
    "sketch_countmin_topk": "BOUNDED CM sketch",
    "sketch_hll_intersect": "BOUNDED HLL registers",
    "text_zipf_fit": "BOUNDED vocab tf (1842 MB @x100m — the mutated "
    "replica inflates vocab ~linearly by design; Zipf corpora sub-linear)",
    "text_unigram_logppl": "BOUNDED vocab LM (1842 MB @x100m, same "
    "replica-inflation caveat)",
    "text_tfidf_keywords": "BOUNDED vocab (term, df) incl. n_docs "
    "sentinel (1842 MB @x100m; replaced a 3146 MB corpus tf in r14)",
    "text_containment_rare": "rare-shingle postings, df-capped (4 MB "
    "@x100m)",
    "drift_report_multi": "LAZY (eager=False) plan truncation only — no "
    "build-time work to exclude from warm timings",
    # --- narrow O(n) proxy tables (the guide §8 decide-small class) ---
    "text_bm25": "PROXY (doc, dl, tf_i) longs — 54 MB @x100m (~0.8% of "
    "corpus)",
    "text_hybrid_retrieval": "PROXY (doc, dl, tf_i) longs — 54 MB @x100m",
    "multimodal_phash_dedup": "PROXY (doc, 8-byte hash) decode output — "
    "42 MB @x100m; the ONE place bodies are decoded",
    "lsh_candidate_pairs": "PROXY minhash signature rows — 178 MB @x100m "
    "(dedup_minhash_lsh)",
    "dedup_incremental_minhash": "PROXY signature rows",
    "dedup_embedding_lsh_verified": "PROXY emb(id, vec, nrm) + banded "
    "(id, band, bucket) — 146 MB total @x100m; candidate join + both "
    "join-backs reuse them",
    "dedup_semantic": "PROXY emb table reused by cell join sides",
    "knn_lsh_bucketed": "PROXY emb(id, vec, nrm) reused by both bucket "
    "join sides",
    "pipeline_dedup_recall": "PROXY truth-pair hit table",
    "fts_match": "corpus posting table for the OPTIONS unicode61 "
    "tokenizer only (190 s vs 3 s @x100 — the ~650-char pattern "
    "recompiles per output row without it); default tokenizer path "
    "stays lazy",
    "fts_phrase_prefix": "PROXY tokenized posting table shared by the "
    "3 phrase positions",
    # --- per-round lineage caps in iterative algorithms ---
    "connected_components": "LOOP input pair set, lazily checkpointed and "
    "written by the first round's test (each round's star edges are a "
    "fixpoint round)",
    "pagerank": "LOOP per-round rank table + edge set (57 MB @x100m)",
    "graph_triangle_count": "LOOP/PROXY edge set reused 3 ways",
    "graph_k_core": "LOOP co-purchase edge set, lazily checkpointed and "
    "written by the first peel's edge count (each peel is a fixpoint "
    "round)",
    "bpe_learn_merges": "LOOP per-round word table (vocab-sized)",
    "kmeans_fit": "LOOP training-set cache during model fit",
    "knn_ivf_kmeans": "LOOP training-set cache during model fit",
    "pq_fit": "LOOP training-set cache during model fit (70 MB @x100m "
    "via embedding_pq_codes)",
    "recursive_cte": "LOOP the deduplicated base and the union of the "
    "frontiers, compacted every checkpoint_every iterations; each frontier "
    "is a fixpoint round (plans/recursive.py)",
    "fixpoint": "LOOP each round's state (recursive_cte frontier, "
    "connected_components star edges, graph_k_core surviving edges), "
    "lazily checkpointed and written by the caller's convergence test, "
    "the round's one action (plans/recursive.py)",
    # --- output-sized (the query RETURNS this data) ---
    "json_tree_walk": "OUTPUT per-level frontiers; union of ALL levels "
    "IS the result (4676 MB mem + 132 MB disk @x100m — bounded by "
    "output size, not avoidable without 3^depth lineage re-derivation)",
    # --- corpus-sized, kept on a measured at-scale A/B ---
    "ts_acf_lags": "CORPUS 1320 MB @x100m — kept on the measured A/B "
    "(5.0 s without -> 2.4 s with; three consumers of one corpus "
    "window sort)",
}

_SCAN_RE = re.compile(r"^\(\d+\) Scan parquet", re.M)
_ID_RE = re.compile(r"#(\d+)")


def _blocks(plan: str) -> list[str]:
    """Formatted-explain operator blocks ('(N) NodeName' + detail lines)."""
    out, cur = [], []
    for line in plan.splitlines():
        if re.match(r"^\(\d+\) ", line):
            if cur:
                out.append("\n".join(cur))
            cur = [line]
        elif cur:
            cur.append(line)
    if cur:
        out.append("\n".join(cur))
    return out


def unpushed_scan_filters(plan: str) -> bool:
    """True iff some parquet scan pushed NOTHING (Spark 4 omits the
    PushedFilters line entirely in that case — the round-2 heuristic
    grepped for 'PushedFilters: []' and could never match) while a
    Filter node's condition references one of THAT scan's output
    exprIds. Intentionally an eyeball flag: it also fires on genuinely
    non-pushable predicates (expression filters), which belong in
    _REVIEWED_NONPUSHABLE once reviewed."""
    scans, filters = [], []
    for b in _blocks(plan):
        head = b.splitlines()[0]
        if "Scan parquet" in head and (
            "PushedFilters" not in b or "PushedFilters: []" in b
        ):
            m = re.search(r"Output \[\d+\]: \[(.*?)\]", b, re.S)
            if m:
                scans.append(set(_ID_RE.findall(m.group(1))))
        elif ") Filter" in head:
            m = re.search(r"Condition : (.*)", b)
            if m:
                filters.append(set(_ID_RE.findall(m.group(1))))
    return any(s & f for s in scans for f in filters)


def audit_plan(name: str, plan: str, simple: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        if name not in _ALLOWED_NL:
            flags.append("CARTESIAN")
    elif "BroadcastNestedLoopJoin" in plan and name not in _ALLOWED_NL:
        # A broadcast-NL join whose build side is an ungrouped (scalar,
        # 1-row) aggregate is the correct plan for scalar-subquery
        # thresholds — O(n), not quadratic. Heuristic: the simple-mode
        # plan shows the scalar aggregate as keys=[].
        if "keys=[]" not in simple:
            flags.append("CARTESIAN")
    if "BatchEvalPython" in plan:
        flags.append("PYTHON_ROW_UDF")
    if (
        ("ArrowEvalPython" in plan or "MapInPandas" in plan)
        and name not in _ALLOWED_ARROW
    ):
        flags.append("PYTHON_ARROW_UNREVIEWED")
    if name not in _REVIEWED_NONPUSHABLE and unpushed_scan_filters(plan):
        flags.append("EMPTY_PUSHDOWN_SCAN")
    return flags


def collect_violations() -> list[str]:
    """AST-scan operator sources: registered builders must not collect
    to the driver outside the O(k) allowlist."""
    builder_names = {spec.builder.__name__ for spec in REGISTRY.values()}
    bad = []
    for path in glob.glob("litebase_spark/operators/**/*.py", recursive=True):
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            if node.name not in builder_names:
                continue
            if node.name in _ALLOWED_COLLECT:
                continue
            for sub in ast.walk(node):
                if (
                    isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)
                    and sub.func.attr
                    in ("collect", "toPandas", "toLocalIterator")
                ):
                    bad.append(f"{node.name} ({path}:{sub.lineno})")
    return bad


def checkpoint_violations() -> list[str]:
    """AST-scan query-path source (operators/**, functions/porter.py,
    plans/recursive.py) for localCheckpoint sites whose enclosing
    function is not in the reviewed map."""
    paths = (
        glob.glob("litebase_spark/operators/**/*.py", recursive=True)
        + ["litebase_spark/functions/porter.py",
           "litebase_spark/plans/recursive.py"]
    )
    bad = []
    for path in paths:
        tree = ast.parse(open(path).read())
        funcs = [
            (n.name, n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef)
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                owner = min(
                    (f for f in funcs if f[1] <= node.lineno <= f[2]),
                    key=lambda f: f[2] - f[1],
                    default=("<module>", 0, 0),
                )
                if owner[0] not in _REVIEWED_CHECKPOINTS:
                    bad.append(f"{owner[0]} ({path}:{node.lineno})")
    return bad


def selftest() -> int:
    """The pushdown heuristic must trip on a plan where a pushable
    filter was (deliberately) not pushed, and stay quiet when it is."""
    spark = get_spark("plan-audit-selftest")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    df_path = "/root/testdata/sf0.001/nation.parquet"

    def formatted(df):
        return df._jdf.queryExecution().explainString(
            mode.fromString("formatted")
        )

    from pyspark.sql import functions as F

    # coalesce defeats pushdown (and even the implied IsNotNull), so the
    # scan block carries no PushedFilters line at all — the exact shape
    # the round-2 'PushedFilters: []' grep could never see.
    bad = formatted(
        spark.read.parquet(df_path).filter(
            F.coalesce(F.col("n_regionkey"), F.lit(0)) == 1
        )
    )
    good = formatted(
        spark.read.parquet(df_path).filter(F.col("n_regionkey") == 1)
    )
    assert unpushed_scan_filters(bad), "known-bad plan did not trip the flag"
    assert not unpushed_scan_filters(good), "pushed plan tripped the flag"
    print("selftest ok: unpushed-filter plan trips, pushed plan does not")
    return 0


def main() -> int:
    if "--selftest" in sys.argv:
        return selftest()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rows = []
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        try:
            df = spec.builder(spark, sf_dir)
            qe = df._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            plan = qe.explainString(mode.fromString("formatted"))
            simple = qe.explainString(mode.fromString("simple"))
        except Exception as e:  # builder with eager action etc.
            rows.append((name, (-1, 0), [f"ERROR: {str(e)[:100]}"]))
            continue
        # exchange NODES from the formatted plan's numbered operator
        # list — "(12) Exchange" appears once per node. The previous
        # plan.count("Exchange") double-counted every node (tree line +
        # detail header) and, worse, lumped BroadcastExchange in with
        # shuffles; a broadcast is not a shuffle and should not be
        # penalized as one.
        n_shuf = len(re.findall(r"\(\d+\) Exchange", plan))
        n_bc = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        rows.append((name, (n_shuf, n_bc), audit_plan(name, plan, simple)))

    collects = collect_violations()
    ckpts = checkpoint_violations()
    flagged = [(n, x, f) for n, x, f in rows if f]
    rows.sort(key=lambda r: (-r[1][0], -r[1][1]))
    with open("PLAN_AUDIT.md", "w") as out:
        out.write(
            "# PLAN_AUDIT — physical-plan scale audit (regression gate)\n\n"
            f"Swept {len(rows)} registered queries at {sf_dir} "
            "(tools/plan_audit.py; exits non-zero on any flag — run per "
            "round like a test).\n\n"
        )
        out.write(f"## Flags ({len(flagged)})\n\n")
        if not flagged:
            out.write("None — every plan is clean under the audit rules.\n")
        for n, x, f in flagged:
            out.write(f"- **{n}**: {', '.join(f)}\n")
        out.write(f"\n## Driver-collect violations ({len(collects)})\n\n")
        if not collects:
            out.write(
                "None. O(k) allowlist: "
                + "; ".join(
                    f"`{k}` ({v})" for k, v in _ALLOWED_COLLECT.items()
                )
                + ".\n"
            )
        for c in collects:
            out.write(f"- {c}\n")
        out.write(
            f"\n## Unreviewed eager checkpoints ({len(ckpts)})\n\n"
        )
        if not ckpts:
            out.write(
                "None — every localCheckpoint site in query-path source "
                "is classified. Reviewed map (function: class — eager "
                "checkpoints run at build time, so these are exactly "
                "the sites whose work is excluded from steady-state "
                "warm timings; bytes measured with "
                "the ckpt_MB column of tools/layers.py at x100m):\n\n"
            )
            for k, v in sorted(_REVIEWED_CHECKPOINTS.items()):
                out.write(f"- `{k}`: {v}\n")
        for c in ckpts:
            out.write(f"- {c}\n")
        out.write("\n## Shuffle (Exchange) count, descending\n\n")
        out.write("| query | shuffle exchanges | broadcast exchanges |\n"
                  "|---|---|---|\n")
        for n, x, _ in rows[:25]:
            out.write(f"| {n} | {x[0]} | {x[1]} |\n")
        out.write(
            "\n(Counted as NODES — the `(N) Exchange` operator entries "
            "of the formatted plan; broadcasts are listed separately "
            "because a broadcast is not a shuffle. Earlier rounds "
            "counted raw 'Exchange' substrings, which double-counted "
            "every node and folded broadcasts in — historical numbers "
            "are ~2x+ these. AQE may coalesce or eliminate some at "
            "runtime. Allowed nested-loop and Arrow-Python operators "
            "are listed in the tool.)\n"
        )
    print(
        f"{len(rows)} plans, {len(flagged)} flagged, "
        f"{len(collects)} collect violations, "
        f"{len(ckpts)} unreviewed checkpoints -> PLAN_AUDIT.md"
    )
    for n, x, f in flagged:
        print(f"  {n}: {f}")
    for c in collects:
        print(f"  DRIVER_COLLECT: {c}")
    for c in ckpts:
        print(f"  EAGER_CHECKPOINT_UNREVIEWED: {c}")
    return 1 if (flagged or collects or ckpts) else 0


if __name__ == "__main__":
    sys.exit(main())

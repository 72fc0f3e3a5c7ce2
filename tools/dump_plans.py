"""Dump formatted physical plans of representative queries to PLANS.md.

Run: python tools/dump_plans.py [sf_dir]
Regenerates PLANS.md so plan reviews don't require a Spark session.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("q1_pricing_summary", "scan + pushed filter + partial/final hash agg"),
    ("q5_regional_revenue", "star join: broadcast dims + one big shuffle join"),
    ("q18_large_volume_customer", "semi join + re-join + TakeOrderedAndProject"),
    ("join_asof", "as-of join as union + single-shuffle window sweep"),
    ("join_salted_skew", "salted join: explode replication vs hot keys"),
    ("dedup_minhash_lsh", "minhash banding -> band-key shuffle"),
    (
        "dedup_embedding_lsh_verified",
        "SRP band bucket equi-join candidates -> exact cosine verify",
    ),
    (
        "dedup_embedding_blocked",
        "triangle block-pair cogroup BLAS, no corpus broadcast",
    ),
    (
        "fts_match_near",
        "NEAR(): postings pruned to query terms before the doc-keyed join",
    ),
    ("knn_ivf_probe", "IVF: centroid assign + probe join + cell-local rerank"),
    ("pipeline_training_corpus", "fused multi-stage corpus prep"),
    (
        "pipeline_pack_sequences",
        "sequence packing: per-shard running-sum window, no global sort",
    ),
    ("stream_tumbling_window", "windowed agg (streaming twin shares the plan)"),
    (
        "graph_pagerank",
        "iterative PageRank: post-checkpoint final round — each round's "
        "eager checkpoint runs 13-14 Spark jobs at sf0.01 (sort-merge joins "
        "shuffle edges and ranks by src before AQE demotes them to broadcast)",
    ),
    (
        "dedup_incremental_minhash",
        "incremental dedup: batch probes the index on (band, bucket)",
    ),
    (
        "profile_lineitem_stats",
        "per-column pruned-scan profile branches (no multi-distinct Expand)",
    ),
    (
        "stats_wasserstein_1d",
        "drift gate: one corpus fold onto domain-bounded cents cells, "
        "exact-integer CDF-gap windows over cells only",
    ),
    (
        "text_bigram_logppl",
        "bigram-LM scoring: one tokenize-explode chain, LM counts as "
        "vocabulary-keyed windows (no aggregate+join-back recompute)",
    ),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY
    from litebase_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — formatted physical plans of showcase queries",
        "",
        f"Generated by `python tools/dump_plans.py` at {sf_dir}. Read these",
        "top-down for the scale story: `PushedFilters`/`ReadSchema` on every",
        "scan, `BroadcastHashJoin` on dimension joins, `partial_` aggregate",
        "phases before each exchange, `TakeOrderedAndProject` for top-k.",
        "",
    ]
    for name, why in SHOWCASE:
        df = REGISTRY[name].builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # keep the operator tree + scan details; drop per-node field dumps
        # beyond a readable budget
        lines = plan.splitlines()
        cut = min(len(lines), 80)
        out += [f"## {name}", "", f"*{why}*", "", "```"]
        out += lines[:cut]
        if cut < len(lines):
            out.append(f"... ({len(lines) - cut} more lines)")
        out += ["```", ""]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

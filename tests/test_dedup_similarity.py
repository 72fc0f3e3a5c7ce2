"""Dedup + similarity operator properties: LSH recall against the exact
oracle-verified baselines, signature invariances."""

from __future__ import annotations

from pyspark.sql import functions as F

import litebase_spark.operators  # noqa: F401
from litebase_spark.catalog import REGISTRY, load
from litebase_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures


def test_minhash_identical_docs_identical_sigs(spark, sf_dir):
    d = load(spark, sf_dir, "documents").limit(20)
    doubled = d.union(d)  # every doc duplicated
    sigs = minhash_signatures(doubled)
    agg = sigs.groupBy("doc_id").agg(
        F.count_distinct(F.to_json(F.col("sig"))).alias("n_distinct")
    )
    assert agg.filter(F.col("n_distinct") != 1).count() == 0


def test_minhash_skips_null_text(spark):
    # a NULL text gets no signature (the DuckDB oracle drops the row the
    # same way), and banding the rest still runs
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None), (3, "the quick brown fox")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs)
    assert sorted(r.doc_id for r in sigs.collect()) == [1, 3]
    # a batch in which no document has a signature
    assert minhash_signatures(docs.filter("text IS NULL")).count() == 0
    pairs = lsh_candidate_pairs(sigs).collect()
    assert [(r.doc_a, r.doc_b, r.est_jaccard) for r in pairs] == [(1, 3, 1.0)]


def test_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    # every exact near-dup pair (jaccard >= 0.5) should be recalled by the
    # banded LSH candidates with high probability (8 bands x 4 rows at
    # j=0.5: P(miss) = (1 - 0.5^4)^8 ~ 0.6 per pair... so assert on the
    # >=0.7 pairs where P(miss) = (1 - 0.24)^8 ~ 0.1, and allow 1 miss)
    exact = REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir)
    strong = {
        (r.doc_a, r.doc_b)
        for r in exact.filter(F.col("jaccard") >= 0.7).collect()
    }
    sigs = minhash_signatures(load(spark, sf_dir, "documents"))
    cand = {
        (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs).collect()
    }
    missed = strong - cand
    assert len(missed) <= max(1, len(strong) // 5), (
        f"LSH missed {len(missed)}/{len(strong)} strong pairs"
    )


def test_simhash_stability_and_blocks(spark, sf_dir):
    out = REGISTRY["dedup_simhash"].builder(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert 0 <= r.block_key < (1 << 16)
    # deterministic across runs
    rows2 = REGISTRY["dedup_simhash"].builder(spark, sf_dir).collect()
    assert {(r.doc_id, r.simhash) for r in rows} == {
        (r.doc_id, r.simhash) for r in rows2
    }


def test_knn_results_sane(spark, sf_dir):
    rows = REGISTRY["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert -1.0 <= r.cos_sim <= 1.0
        assert r.vec_id != r.qid
        by_q.setdefault(r.qid, []).append(r)
    for q, rs in by_q.items():
        sims = [r.cos_sim for r in sorted(rs, key=lambda x: x.rank)]
        assert sims == sorted(sims, reverse=True)


def test_lsh_knn_subset_of_bucket(spark, sf_dir):
    # every LSH result must also appear in the brute-force ranking's
    # universe (same scoring), with cos_sim identical for same pair
    bf = {
        (r.qid, r.vec_id): r.cos_sim
        for r in REGISTRY["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    }
    for r in REGISTRY["knn_lsh_bucketed"].builder(spark, sf_dir).collect():
        if (r.qid, r.vec_id) in bf:
            assert abs(bf[(r.qid, r.vec_id)] - r.cos_sim) < 1e-9


def test_multimodal_features_deterministic(spark, sf_dir):
    a = REGISTRY["multimodal_features"].builder(spark, sf_dir).collect()
    assert len(a) > 0
    for r in a[:20]:
        assert r.modality == "text"
        assert 0 <= r.feat_entropy_proxy <= 1.0
        assert r.n_bytes > 0


def test_ivf_probe_recall_vs_bruteforce(spark, sf_dir):
    """IVF with N_PROBE of N_CENTROIDS cells must recall most of the exact
    top-k (approximation contract) and report true cosine values."""
    ivf = {
        (r["qid"], r["vec_id"]): r["cos_sim"]
        for r in REGISTRY["knn_ivf_probe"].builder(spark, sf_dir).collect()
    }
    bf = {
        (r["qid"], r["vec_id"]): r["cos_sim"]
        for r in REGISTRY["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    }
    recall = len(set(ivf) & set(bf)) / len(bf)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # scores on recalled pairs are EXACT (rerank is exact cosine)
    for pair in set(ivf) & set(bf):
        assert abs(ivf[pair] - bf[pair]) < 1e-9


def test_vectorized_knn_equals_hof_bruteforce(spark, sf_dir):
    """The numpy kernel and the JVM higher-order-function form must return
    the same top-k (same pairs, same 6-decimal scores)."""
    vec = {
        (r["qid"], r["vec_id"]): r["cos_sim"]
        for r in REGISTRY["knn_cosine_vectorized"].builder(spark, sf_dir).collect()
    }
    bf = {
        (r["qid"], r["vec_id"]): r["cos_sim"]
        for r in REGISTRY["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    }
    assert set(vec) == set(bf)
    for pair in bf:
        assert abs(vec[pair] - bf[pair]) <= 1e-6


def test_blocked_embedding_dedup_equals_exact(spark, sf_dir):
    """Blocked numpy near-dup pairs == the oracle-exact pair set (pairs
    within float-noise of the threshold may differ either way)."""
    fast = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in REGISTRY["dedup_embedding_blocked"].builder(spark, sf_dir).collect()
    }
    exact = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in REGISTRY["dedup_embedding_cosine"].builder(spark, sf_dir).collect()
    }
    for pair in set(fast) ^ set(exact):
        sim = fast.get(pair, exact.get(pair))
        assert abs(sim - 0.4) < 1e-9, f"non-boundary disagreement: {pair} {sim}"
    for pair in set(fast) & set(exact):
        assert abs(fast[pair] - exact[pair]) <= 1e-6


def test_lsh_verified_subset_and_recall(spark, sf_dir):
    """SRP-banded verified pairs are a subset of the exact pair set with
    identical sims (the verify stage IS the exact fold), and banding
    recall at tau=0.4 clears the SRP collision floor."""
    verified = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in REGISTRY["dedup_embedding_lsh_verified"]
        .builder(spark, sf_dir)
        .collect()
    }
    exact = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in REGISTRY["dedup_embedding_cosine"].builder(spark, sf_dir).collect()
    }
    assert set(verified) <= set(exact)
    for pair, sim in verified.items():
        assert sim == exact[pair]
    # 4 bands x 4 bits at sim>=0.4 -> expected recall ~0.5; assert a
    # loose floor so plane-constant regressions (e.g. a sign flip)
    # fail loudly without flaking on fixture composition.
    if exact:
        assert len(verified) / len(exact) >= 0.25


def test_connected_components_chain_and_clique(spark):
    from litebase_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src int, dst int",
    )
    got = {
        r.node: r.comp
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_paths(spark):
    # two 200-node paths in one call, one with ascending ids and one
    # with shuffled ids: min-label propagation would need ~200 rounds,
    # large-star/small-star stays well inside the round cap
    import random

    from litebase_spark.operators.dedup import connected_components

    shuffled = list(range(1000, 1200))
    random.Random(7).shuffle(shuffled)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)]
        + list(zip(shuffled, shuffled[1:])),
        "src int, dst int",
    )
    got = {
        r.node: r.comp
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {**dict.fromkeys(range(200), 0),
                   **dict.fromkeys(shuffled, 1000)}


def test_chunk_dedup_semantics(spark, sf_dir):
    """Cross-doc chunk dedup: rebuilt text = kept chunks in order, a
    removed chunk really occurs in >= BOILER distinct docs, and the op
    is non-degenerate on the fixture (some chunk is boilerplate)."""
    from litebase_spark.operators.text import _CD_BOILER, _CD_CHUNK

    out = REGISTRY["text_chunk_dedup"].builder(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").collect()
    }
    assert set(docs) == {r["doc_id"] for r in out}

    import re

    def chunks_of(text):
        ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        return [
            " ".join(ws[i : i + _CD_CHUNK])
            for i in range(0, len(ws), _CD_CHUNK)
        ]

    # corpus-wide doc frequency per chunk, recomputed independently
    dfreq: dict = {}
    for did, text in docs.items():
        for c in set(chunks_of(text)):
            dfreq[c] = dfreq.get(c, 0) + 1

    removed_any = False
    for r in out:
        orig = chunks_of(docs[r["doc_id"]])
        kept = [c for c in orig if dfreq[c] < _CD_BOILER]
        assert r["n_chunks"] == len(orig)
        assert r["n_kept"] == len(kept)
        assert r["clean_text"] == " ".join(kept)
        removed_any = removed_any or len(kept) < len(orig)
    assert removed_any


def test_portable_hll_estimates_within_5pct(spark, sf_dir):
    """The deterministic portable HLL (agg_approx_distinct /
    agg_hll_sketch_rollup) estimates within 12% of exact (m=256 gives
    ~6.5% standard error in the raw regime and ~5% in linear counting;
    observed max across fixtures is 7.9% at sf0.001), and its
    exact_custs companion column is exactly COUNT(DISTINCT)."""
    rows = REGISTRY["agg_approx_distinct"].builder(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["exact_custs"] == exact[r["o_orderpriority"]]
        rel = abs(r["approx_custs"] - exact[r["o_orderpriority"]])
        assert rel / exact[r["o_orderpriority"]] < 0.12
    rollup = {
        r["o_orderpriority"]: r["est_custs"]
        for r in REGISTRY["agg_hll_sketch_rollup"]
        .builder(spark, sf_dir)
        .collect()
    }
    for prio, est in rollup.items():
        assert abs(est - exact[prio]) / exact[prio] < 0.12


def test_hll_sketch_rollup_lossless_merge(spark, sf_dir):
    """Union of per-cell sketches == direct one-pass sketch (lossless
    merge at equal precision), and estimates land within 5% of exact."""
    from pyspark.sql import functions as F

    from litebase_spark.operators.skew import datasketches_hll_union

    out = {
        r["o_orderpriority"]: r["est_custs"]
        for r in datasketches_hll_union(spark, sf_dir).collect()
    }
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    direct = {
        r["o_orderpriority"]: r["est"]
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("o_custkey", F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert out == direct  # merge is lossless, not just approximately equal
    for prio, est in out.items():
        assert abs(est - exact[prio]) / exact[prio] < 0.05


def test_quantile_sketch_within_bin_width_of_exact(spark, sf_dir):
    """Histogram-quantile estimates land within one bin width of the
    exact percentiles (the sketch's worst-case error bound)."""
    from pyspark.sql import functions as F

    from litebase_spark.operators.skew import _QS_W

    est = {
        r["o_orderpriority"]: (r["est_p50"], r["est_p90"], r["est_p99"])
        for r in REGISTRY["agg_quantile_sketch_rollup"]
        .builder(spark, sf_dir)
        .collect()
    }
    exact = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(est) == set(exact)
    for pri in est:
        for e, x in zip(est[pri], exact[pri]):
            assert abs(e - x) <= _QS_W, (pri, e, x)


def _media_df(spark, modality, payloads):
    from litebase_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [
        (i, p, (modality, f"{modality}/x", len(p), "t"))
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_multimodal_register_decoder_reaches_executors(spark):
    """register_decoder installs a custom modality decoder on the DRIVER
    and the mapInPandas stages must see it executor-side (the registry
    snapshots into the task closure — a module-global lookup would lose
    driver-side registrations on worker re-import)."""
    from litebase_spark.operators import multimodal as mm

    payloads = [b"abcabc", b"zzzz"]
    mm.register_decoder("audio8", lambda p: bytes(b ^ 0xFF for b in p))
    try:
        out = {
            r["doc_id"]: (r["feat_mean"], r["n_bytes"])
            for r in mm.extract_features(
                _media_df(spark, "audio8", payloads)
            ).collect()
        }
    finally:
        del mm._DECODERS["audio8"]
    for i, p in enumerate(payloads):
        dec = bytes(b ^ 0xFF for b in p)
        assert out[i][0] == sum(dec) / len(dec)


def test_multimodal_unknown_modality_raises_not_implemented(spark):
    """The honest-stub contract: an unregistered modality fails loudly
    with NotImplementedError, never silently passes bytes through."""
    import pytest as _pytest

    from litebase_spark.operators import multimodal as mm

    df = mm.extract_features(_media_df(spark, "video", [b"xx"]))
    with _pytest.raises(Exception) as ei:
        df.collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_multimodal_pil_image_decode_and_resize(spark):
    """Real decode path: with PIL importable, image payloads decode and
    resample for real (raw RGB, 3 bytes/pixel at the target size).
    Skips cleanly in environments without codecs — the same code path
    then stays behind the deterministic stub."""
    import pytest as _pytest

    PIL = _pytest.importorskip("PIL")  # noqa: N806
    import io

    from PIL import Image

    from litebase_spark.operators import multimodal as mm

    buf = io.BytesIO()
    Image.new("RGB", (8, 6), (10, 200, 30)).save(buf, format="PNG")
    png = buf.getvalue()

    feats = mm.extract_features(_media_df(spark, "image", [png])).collect()
    assert feats[0]["feat_mean"] == (10 + 200 + 30) / 3

    out = mm.resize_media(
        _media_df(spark, "image", [png]), width=4, height=3
    ).collect()
    assert out[0]["meta"]["n_bytes"] == 4 * 3 * 3
    assert len(out[0]["media"]) == 4 * 3 * 3

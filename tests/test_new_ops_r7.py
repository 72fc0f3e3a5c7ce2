"""Round-7 operators: EWMA smoothing, SCD-2 intervals, compaction
planning, chi-squared independence, rare-shingle containment.

Oracle exactness is covered by tools/check_oracle.py; these tests pin
the SEMANTIC invariants each operator promises, plus hand-models on
constructed fixtures where the math is small enough to recompute."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_ewma_hand_model(spark):
    from litebase_spark.operators.asof import ts_ewma_smooth

    rows = ts_ewma_smooth(spark, SF).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts_us"], r["event_id"]))
        hist: list[int] = []
        for r in rs:
            hist.append(round(r["value"] * 100))
            tail = hist[-32:]
            n = len(tail)
            num = sum(v << (i + 32 - n) for i, v in enumerate(tail))
            den = (1 << 32) - (1 << (32 - n))
            assert r["ewma"] == pytest.approx(
                round(num / (den * 100.0), 6), abs=1e-9
            ), (u, r["event_id"])


def test_ewma_first_row_equals_value(spark):
    from litebase_spark.operators.asof import ts_ewma_smooth

    df = ts_ewma_smooth(spark, SF)
    w_first = df.groupBy("user_id").agg(
        F.min(F.struct("ts_us", "event_id", "value", "ewma")).alias("f")
    )
    for r in w_first.collect():
        # single-tap window: ewma == round(value, 6)
        assert r["f"]["ewma"] == pytest.approx(
            round(r["f"]["value"], 6), abs=1e-9
        )


def test_ewma_all_null_window_matches_oracle(spark, tmp_path):
    """One user's values nulled: every trailing window of that user
    holds no non-NULL value, so the oracle's SUM is NULL and the
    smoothed value must be NULL too (not 0.0); other users unchanged."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from litebase_spark.catalog import REGISTRY
    from litebase_spark.operators.asof import ts_ewma_smooth
    from tools.check_oracle import canon_rows

    t = pq.read_table(f"{SF}/events.parquet")
    uid = t["user_id"][0].as_py()
    nulled = pc.if_else(
        pc.equal(t["user_id"], uid), pa.scalar(None, pa.float64()), t["value"]
    )
    t = t.set_column(t.schema.get_field_index("value"), "value", nulled)
    pq.write_table(t, tmp_path / "events.parquet")

    sdf = ts_ewma_smooth(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    cur = con.execute(REGISTRY["ts_ewma_smooth"].oracle)
    got = canon_rows(sdf.columns, srows)
    want = canon_rows([d[0] for d in cur.description], cur.fetchall())
    assert got == want
    nulls = [r for r in srows if r[sdf.columns.index("ewma")] is None]
    assert len(nulls) == pc.sum(pc.equal(t["user_id"], uid)).as_py() > 0


def test_scd2_invariants(spark):
    from litebase_spark.operators.asof import ts_scd2_intervals

    rows = ts_scd2_intervals(spark, SF).collect()
    assert rows
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["user_id"], r["event_type"]), []).append(r)
    for key, rs in groups.items():
        rs.sort(key=lambda r: r["version"])
        # versions are contiguous from 1
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        # exactly one open (current) interval, and it is the last
        currents = [r for r in rs if r["is_current"]]
        assert len(currents) == 1 and currents[0] is rs[-1], key
        for a, b in zip(rs, rs[1:]):
            # intervals chain: each closes exactly where the next opens
            assert a["valid_to_us"] == b["valid_from_us"], key
            # consecutive versions differ in value (cents-exact)
            assert round(a["value"] * 100) != round(b["value"] * 100), key
        assert rs[-1]["valid_to_us"] is None


def test_scd2_collapses_unchanged_runs(spark, tmp_path):
    from litebase_spark.operators.asof import ts_scd2_intervals

    rows = [
        (1, "2024-01-01 00:00:00", 7, "login", 1.00),
        (2, "2024-01-01 00:01:00", 7, "login", 1.00),  # no new version
        (3, "2024-01-01 00:02:00", 7, "login", 2.50),
        (4, "2024-01-01 00:03:00", 7, "login", 2.50),  # no new version
        (5, "2024-01-01 00:04:00", 7, "login", 1.00),  # reverts -> v3
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "props", F.lit("{}")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    got = sorted(
        ts_scd2_intervals(spark, str(tmp_path)).collect(),
        key=lambda r: r["version"],
    )
    assert [(r["version"], r["value"], r["is_current"]) for r in got] == [
        (1, 1.00, False),
        (2, 2.50, False),
        (3, 1.00, True),
    ]


def test_compaction_plan_invariants(spark):
    from litebase_spark.operators.pipeline import (
        _COMPACT_TARGET,
        pipeline_compaction_plan,
    )
    from litebase_spark.catalog import load

    rows = pipeline_compaction_plan(spark, SF).collect()
    assert rows
    totals = load(spark, SF, "documents").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s")
    ).first()
    assert sum(r["n_docs"] for r in rows) == totals["n"]
    assert sum(r["bin_bytes"] for r in rows) == totals["s"]
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        rs.sort(key=lambda r: r["bin_id"])
        assert rs[0]["bin_id"] == 0
        cum = 0
        for r in rs:
            # greedy rule: the bin opens exactly where cumsum-so-far says
            assert r["bin_id"] == cum // _COMPACT_TARGET, source
            cum += r["bin_bytes"]
        for a, b in zip(rs, rs[1:]):
            # file ranges are contiguous, never interleaved across bins
            assert a["last_file"] < b["first_file"], source


def test_chi2_invariants(spark):
    from litebase_spark.operators.relational import stats_chi2_independence
    from litebase_spark.catalog import load

    rows = stats_chi2_independence(spark, SF).collect()
    assert rows
    n_docs = load(spark, SF, "documents").count()
    assert sum(r["observed"] for r in rows) == n_docs
    # expected cell counts reproduce the marginal products
    lang_tot: dict = {}
    src_tot: dict = {}
    for r in rows:
        lang_tot[r["lang"]] = lang_tot.get(r["lang"], 0) + r["observed"]
        src_tot[r["source"]] = src_tot.get(r["source"], 0) + r["observed"]
    for r in rows:
        exp = lang_tot[r["lang"]] * src_tot[r["source"]] / n_docs
        assert r["expected"] == pytest.approx(exp, abs=1e-6)
        dev = (r["observed"] - exp) ** 2 / exp
        assert r["contribution"] == pytest.approx(dev, rel=1e-4)
        assert r["contribution"] >= 0


def _write_docs(spark, tmp_path, texts):
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )


def test_containment_catches_quote_jaccard_misses(spark, tmp_path):
    from litebase_spark.operators.text import text_containment_rare

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"word{i}" for i in range(200))
    texts = {
        1: quote,  # short benchmark item
        2: filler + " " + quote,  # long doc quoting it verbatim
        3: "completely unrelated text about something else entirely "
           "with more unrelated words following it",
    }
    _write_docs(spark, tmp_path, texts)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in text_containment_rare(spark, str(tmp_path)).collect()
    }
    # every shingle of doc 1 appears in doc 2 -> containment 1.0,
    # even though Jaccard(1, 2) ~ 9/208 would miss it
    assert pairs.get((1, 2)) == pytest.approx(1.0)
    assert not any(3 in p for p in pairs)


def test_containment_df_cap_drops_boilerplate(spark, tmp_path):
    from litebase_spark.operators.text import (
        _CONTAIN_DF_CAP,
        text_containment_rare,
    )

    # one boilerplate sentence shared by MORE than df-cap docs, plus a
    # unique tail per doc: every shared shingle is over the cap, so no
    # candidate pairs survive
    boiler = "all rights reserved contact us for more information today"
    texts = {
        i: boiler + f" unique{i} trailer{i} ending{i}"
        for i in range(_CONTAIN_DF_CAP + 2)
    }
    _write_docs(spark, tmp_path, texts)
    assert text_containment_rare(spark, str(tmp_path)).count() == 0


def test_ks_test_bounds_and_degenerate(spark):
    from litebase_spark.operators.relational import stats_ks_test

    r = stats_ks_test(spark, SF).first()
    assert r["n1"] > 0 and r["n2"] > 0
    assert 0.0 <= r["d_stat"] <= 1.0


def test_ks_identical_samples_give_zero(spark, tmp_path):
    from litebase_spark.operators.relational import stats_ks_test

    rows = []
    eid = 0
    for v in (1.00, 2.00, 3.00, 3.00, 9.75):
        for et in ("click", "purchase"):  # identical distributions
            rows.append((eid, "2024-01-01 00:00:00", 1, et, v))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long,"
        " event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "props", F.lit("{}")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    r = stats_ks_test(spark, str(tmp_path)).first()
    assert r["d_stat"] == 0.0 and r["n1"] == 5 and r["n2"] == 5


def test_stream_scd2_equals_batch(spark):
    from litebase_spark.operators.asof import ts_scd2_intervals
    from litebase_spark.operators.streaming_batch import stream_scd2_apply

    key = lambda r: (  # noqa: E731
        r["user_id"], r["event_type"], r["version"],
        r["valid_from_us"], r["valid_to_us"], r["is_current"],
        round(r["value"] * 100),
    )
    batch = sorted(key(r) for r in ts_scd2_intervals(spark, SF).collect())
    stream = sorted(key(r) for r in stream_scd2_apply(spark, SF).collect())
    assert batch == stream and batch


def test_dataset_card_consistency(spark):
    from litebase_spark.operators.pipeline import pipeline_dataset_card
    from litebase_spark.catalog import load

    rows = pipeline_dataset_card(spark, SF).collect()
    assert rows
    n_docs = load(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 < r["top_lang_share"] <= 1.0
        assert r["n_exact_dupes"] >= 0
        assert r["avg_chars"] == pytest.approx(
            r["total_chars"] / r["n_docs"], rel=1e-6
        )


def test_interval_overlap_matches_theta_join(spark):
    from litebase_spark.operators.asof import (
        _IVL_W_US,
        join_interval_overlap,
    )
    from litebase_spark.catalog import load

    got = sorted(
        (r["a_id"], r["b_id"], r["overlap_us"])
        for r in join_interval_overlap(spark, SF).collect()
    )
    e = load(spark, SF, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
    )
    a = [
        r for r in e.collect() if r["event_type"] == "purchase"
    ]
    b = [r for r in e.collect() if r["event_type"] == "error"]
    by_user: dict = {}
    for r in b:
        by_user.setdefault(r["user_id"], []).append(r)
    want = []
    for ra in a:
        for rb in by_user.get(ra["user_id"], []):
            lo = max(ra["s"], rb["s"])
            hi = min(ra["s"] + _IVL_W_US, rb["s"] + _IVL_W_US)
            if lo < hi:
                want.append((ra["event_id"], rb["event_id"], hi - lo))
    assert got == sorted(want) and got


def _xy2d_ref(n, x, y):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_encode_matches_reference():
    import duckdb

    from litebase_spark.operators.layout import _hilbert_chain_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT range AS o_orderkey,"
        " range % 251 AS xq, (range * 73) % 256 AS yq FROM range(4000)"
    )
    rows = con.execute(
        f"SELECT xd, yd, d FROM ({_hilbert_chain_sql('xq', 'yq', 'orders')})"
    ).fetchall()
    assert rows
    for x, y, d in rows:
        assert d == _xy2d_ref(256, int(x), int(y)), (x, y)


def test_hilbert_beats_morton_locality_on_unaligned_buckets():
    """At power-of-4-aligned bucket boundaries both curves cover perfect
    squares; real FILE boundaries are not aligned — there Hilbert's
    never-jumping walk keeps per-bucket bounding boxes markedly tighter
    (measured ~0.49x total bbox area at 100 keys/bucket on the sf0.01
    orders fixture)."""
    import duckdb

    from litebase_spark.operators.layout import (
        _X,
        _Y,
        _hilbert_chain_sql,
        _interleave_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/orders.parquet')"
    )
    area = "SUM((mx - mn + 1) * (my2 - my1 + 1))"
    h = con.execute(
        f"SELECT {area} FROM (SELECT d // 100 AS b, MIN(xd) mn,"
        f" MAX(xd) mx, MIN(yd) my1, MAX(yd) my2"
        f" FROM ({_hilbert_chain_sql(_X, _Y, 'orders')}) GROUP BY b)"
    ).fetchone()[0]
    z = con.execute(
        f"SELECT {area} FROM (SELECT {_interleave_sql(_X, _Y)} // 100"
        f" AS b, MIN({_X}) mn, MAX({_X}) mx, MIN({_Y}) my1,"
        f" MAX({_Y}) my2 FROM orders GROUP BY b)"
    ).fetchone()[0]
    assert h < 0.7 * z, (h, z)


def test_cusum_locates_constructed_level_shift(spark, tmp_path):
    from litebase_spark.operators.asof import ts_changepoint_cusum

    rows = []
    eid = 0
    for minute in range(40):
        # user 9: flat 1.00 for 20 events, then steps up to 5.00
        v = 1.00 if minute < 20 else 5.00
        rows.append((eid, f"2024-01-01 00:{minute:02d}:00", 9, "m", v))
        eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long,"
        " event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "props", F.lit("{}")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    r = ts_changepoint_cusum(spark, str(tmp_path)).first()
    # |S_k| peaks at the last pre-shift point: minute 19
    import datetime

    peak = datetime.datetime(2024, 1, 1, 0, 19, tzinfo=datetime.timezone.utc)
    assert r["changepoint_ts_us"] == int(peak.timestamp()) * 1_000_000
    assert r["n_events"] == 40
    # mean = 3.0; S_19 = 20 * (1.0 - 3.0) = -40.0 -> |S| = 40.0
    assert r["max_cusum"] == pytest.approx(40.0)


def test_audio_energy_hand_model(spark):
    from litebase_spark.operators.multimodal import (
        _PCM_WIN,
        MEDIA_SCHEMA,
        pcm_window_energy,
    )

    payloads = {
        1: bytes(range(256)) * 2,  # 2 full windows, known samples
        2: b"\x7f\x80" * 200,  # 127 / -128 alternating; 1 window + tail
        3: b"short",  # < one window -> dropped
    }
    # modality "text" = the identity decoder present in this container;
    # a real audio codec would be installed via register_decoder()
    rows = [
        (i, p, ("text", "audio/pcm", len(p), "src"))
        for i, p in payloads.items()
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        (r["doc_id"], r["window_idx"]): (r["energy"], r["peak"])
        for r in pcm_window_energy(df).collect()
    }

    def ref(data):
        out = {}
        for w in range(len(data) // _PCM_WIN):
            chunk = [
                b - 256 if b > 127 else b
                for b in data[w * _PCM_WIN:(w + 1) * _PCM_WIN]
            ]
            out[w] = (sum(s * s for s in chunk), max(abs(s) for s in chunk))
        return out

    want = {
        (i, w): v for i, p in payloads.items() for w, v in ref(p).items()
    }
    assert got == want
    assert (2, 0) in got and not any(d == 3 for d, _ in got)

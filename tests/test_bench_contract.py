"""Bench/driver contract consistency: every name bench.py and the
replica tools reference must exist in the registry, every registry
entry must surface through the driver contract, and the oracle map
stays a subset of queries() (the driver asserts the same)."""

from __future__ import annotations


def test_headline_subset_of_registry():
    import litebase_spark.operators  # noqa: F401
    from bench import HEADLINE
    from litebase_spark.catalog import REGISTRY

    missing = [n for n in HEADLINE if n not in REGISTRY]
    assert not missing, missing
    assert len(set(HEADLINE)) == len(HEADLINE), "duplicate headline names"


def test_replica_tool_names_exist():
    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY
    from tools.layers import REPLICA_EXCLUDE as _EXCLUDE
    from tools.scale_stress import QUERIES

    assert all(n in REGISTRY for n in QUERIES)
    assert all(n in REGISTRY for n in _EXCLUDE)


def test_driver_contract_shape():
    import __spark_entry__ as entry_mod
    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(oracles) <= set(qs)
    # every oracle is a non-empty SQL string
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_driver_line_fits_at_200_queries():
    """Round-7 regression: at 78 headline queries the stdout line outgrew
    the driver's 2000-byte tail after key-shedding ran dry -> parsed:null.
    The formatter must now fall back to a summary form that always fits."""
    import json

    from bench import format_driver_line

    result = {
        "metric": "headline_query_set_total",
        "value": 123.456,
        "unit": "sec",
        "queries": {f"synthetic_query_name_{i:03d}": round(i * 0.173, 2)
                    for i in range(200)},
        "sf": 0.1,
        "cold_total": 321.0,
        "floor": 0.25,
        "load15": 0.87,
        "net_of_floor": 90.0,
        "duckdb_baseline": {f"synthetic_query_name_{i:03d}": 0.1
                            for i in range(200)},
    }
    line = format_driver_line(result)
    assert len(line) <= 1950, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_query_set_total"
    assert parsed["value"] == 123.456
    assert parsed["n_queries"] == 200
    assert len(parsed["worst"]) == 5
    assert parsed["detail"] == "BENCH_FULL.json"
    # the machine-condition keys survive every shed (round-8 verdict:
    # the artifact must certify its own conditions)
    assert parsed["floor"] == 0.25
    assert parsed["load15"] == 0.87
    # worst really are the slowest
    assert all(v >= 0.173 * 194 - 1 for v in parsed["worst"].values())


def test_loadavg_reader_and_busy_gate():
    from bench import BUSY_LOAD15, read_loadavg

    l1, l5, l15 = read_loadavg()
    assert all(isinstance(v, float) and v >= 0.0 for v in (l1, l5, l15))
    assert BUSY_LOAD15 > 0


def test_driver_line_keeps_full_map_when_small():
    import json

    from bench import format_driver_line

    result = {
        "metric": "headline_query_set_total",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 0.5, "q2": 0.5},
        "sf": 0.01,
        "floor": 0.1,
    }
    parsed = json.loads(format_driver_line(result))
    assert parsed["queries"] == {"q1": 0.5, "q2": 0.5}
    assert "worst" not in parsed


def test_driver_line_carries_qv_and_cold_at_headline_scale():
    """r14 (verdict item 1): the driver's per-query visibility died in
    round 7 when the name-keyed map outgrew the 2000-byte stdout tail.
    The positional `qv` vector (manifest-keyed), its `mh` fingerprint,
    and `cold_total` must all survive shedding at the REAL headline size
    so PERF per_query/scaling stop coming back empty."""
    import json

    from bench import HEADLINE, format_driver_line, manifest_hash

    queries = {n: round(0.1 + (i % 17) * 0.37, 2)
               for i, n in enumerate(HEADLINE)}
    result = {
        "metric": "headline_query_set_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "qv": [queries[n] for n in HEADLINE],
        "mh": manifest_hash(),
        "sf": 0.1,
        "cold_total": 321.0,
        "floor": 0.25,
        "load15": 0.87,
        "net_of_floor": 90.0,
    }
    line = format_driver_line(result)
    assert len(line) <= 1950, len(line)
    parsed = json.loads(line)
    assert parsed["qv"] == [queries[n] for n in HEADLINE]
    assert parsed["mh"] == manifest_hash()
    assert parsed["cold_total"] == 321.0
    assert parsed["n_queries"] == len(HEADLINE)
    assert parsed["floor"] == 0.25 and parsed["load15"] == 0.87


def test_driver_line_sheds_qv_last_and_always_fits():
    """Even at an absurd 600-query registry the line must fit (the
    round-7 guarantee): qv is shed only as the last resort."""
    import json

    from bench import format_driver_line

    queries = {f"synthetic_query_name_{i:03d}": 1.0 for i in range(600)}
    result = {
        "metric": "headline_query_set_total",
        "value": 600.0,
        "unit": "sec",
        "queries": queries,
        "qv": [1.0] * 600,
        "mh": "deadbeef",
        "sf": 0.1,
        "cold_total": 1200.0,
        "floor": 0.25,
        "load15": 0.87,
    }
    line = format_driver_line(result)
    assert len(line) <= 1950, len(line)
    parsed = json.loads(line)
    assert "qv" not in parsed  # shed last — 600 entries cannot fit
    assert parsed["n_queries"] == 600
    assert parsed["floor"] == 0.25 and parsed["load15"] == 0.87


def test_bench_manifest_matches_headline():
    """bench_manifest.json is the committed names-to-index key for the
    positional qv vector: it must list HEADLINE exactly, in order, and
    carry the same hash bench emits as `mh`."""
    import json
    import os

    from bench import HEADLINE, manifest_hash

    path = os.path.join(os.path.dirname(__file__), "..",
                        "bench_manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    assert manifest["names"] == HEADLINE
    assert manifest["sha256_8"] == manifest_hash()


def test_shuffle_partition_default_tracks_core_env():
    """r13: the driver re-runs the bench at a lower $SPARK_GRAFT_CPUS to
    measure scaling; the shuffle-partition default must track that env
    (a constant tuned to one machine's cores is the local-mode-constant
    anti-pattern), with the explicit env override winning."""
    from litebase_spark.session import _default_shuffle_partitions

    assert _default_shuffle_partitions("32", None) == 32
    assert _default_shuffle_partitions("8", None) == 8
    assert _default_shuffle_partitions("8", "48") == 48
    import os

    assert _default_shuffle_partitions("*", None) == (os.cpu_count() or 8)
    # r14 (advice): 'N,maxRetries' local specs parse the leading integer
    # instead of silently decoupling from parallelism, and a garbage
    # override fails loudly with the env var named
    assert _default_shuffle_partitions("4,2", None) == 4
    import pytest

    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        _default_shuffle_partitions("8", "many")

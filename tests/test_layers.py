"""The layer table and bench.py's per-query record both come from
perfbench.measure: every column is filled, Catalyst phases and Spark
counters are harvested, and cold keeps meaning build + first run."""

from __future__ import annotations

import time

import pytest


def test_layer_row_fills_every_column(spark, sf_dir):
    from tools.layers import COLUMNS, PHASES, layer_row

    row = layer_row(spark, "q6_forecast_revenue", sf_dir)
    assert "err" not in row, row
    values = {col: f(row) for col, f in COLUMNS.items()}
    assert all(isinstance(v, (int, float)) for v in values.values()), values
    assert row["warm_s"] > 0
    assert set(PHASES) <= set(row["phases_ms"])
    assert row["ops"]["spark.stages"] > 0


def test_bench_query_record_layers_and_cold(spark, sf_dir):
    from bench import HEADLINE, query_record

    assert "q6_forecast_revenue" in HEADLINE
    t0 = time.perf_counter()
    rec = query_record(spark, "q6_forecast_revenue", sf_dir)
    wall = time.perf_counter() - t0
    assert {"build_s", "build_sql_executions", "phases_ms", "ops"} <= set(rec)
    assert rec["e2e_s"] == pytest.approx(rec["build_s"] + rec["first_s"])
    assert 0 < rec["e2e_s"] < wall
    assert 0 < rec["warm_s"] < wall - rec["e2e_s"]

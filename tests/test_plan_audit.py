"""The plan-audit regression gate's own tests: the heuristics must trip
on known-bad shapes and stay quiet on good ones (the full 153-plan sweep
runs per round via `python tools/plan_audit.py`, which exits non-zero on
any flag)."""

from __future__ import annotations

import importlib.util
import sys


def _audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", "tools/plan_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["plan_audit"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_unpushed_filter_plan_trips(spark):
    from pyspark.sql import functions as F

    pa = _audit()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode

    def formatted(df):
        return df._jdf.queryExecution().explainString(
            mode.fromString("formatted")
        )

    path = "/root/testdata/sf0.001/nation.parquet"
    bad = formatted(
        spark.read.parquet(path).filter(
            F.coalesce(F.col("n_regionkey"), F.lit(0)) == 1
        )
    )
    good = formatted(spark.read.parquet(path).filter(F.col("n_regionkey") == 1))
    assert pa.unpushed_scan_filters(bad)
    assert not pa.unpushed_scan_filters(good)


def test_unrelated_filter_does_not_trip(spark):
    """A pushed-down scan joined to a plan whose Filter references OTHER
    columns must not flag (the round-2 heuristic flagged any empty scan
    when any Filter existed anywhere)."""
    from pyspark.sql import functions as F

    pa = _audit()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    r = spark.read.parquet("/root/testdata/sf0.001/region.parquet").filter(
        F.col("r_regionkey") < 3
    )
    plan = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        ._jdf.queryExecution()
        .explainString(mode.fromString("formatted"))
    )
    assert not pa.unpushed_scan_filters(plan)


def test_collect_gate_clean_and_sensitive(tmp_path):
    pa = _audit()
    assert pa.collect_violations() == []
    # sensitivity: a synthetic builder source with a collect must be
    # caught by the same AST walk the gate uses
    import ast

    src = "def q(spark, sf):\n    rows = df.collect()\n    return df\n"
    tree = ast.parse(src)
    hits = [
        sub.func.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
        for sub in ast.walk(node)
        if isinstance(sub, ast.Call)
        and isinstance(sub.func, ast.Attribute)
        and sub.func.attr in ("collect", "toPandas", "toLocalIterator")
    ]
    assert hits == ["collect"]


def test_audit_plan_synthetic_flags():
    pa = _audit()
    assert pa.audit_plan("some_join", "... CartesianProduct ...", "") == [
        "CARTESIAN"
    ]
    assert pa.audit_plan("join_theta", "... CartesianProduct ...", "") == []
    assert pa.audit_plan("q", "... BatchEvalPython ...", "") == [
        "PYTHON_ROW_UDF"
    ]
    assert pa.audit_plan("q", "... MapInPandas ...", "") == [
        "PYTHON_ARROW_UNREVIEWED"
    ]
    assert pa.audit_plan("dedup_minhash_lsh", "... MapInPandas ...", "") == []


def test_tfidf_scalar_cross_join_is_not_cartesian(spark, sf_dir):
    """text_tfidf_keywords broadcasts a one-row n_docs table into a
    cross join; built as an ungrouped aggregate it plans as keys=[] and
    the gate must read it as the scalar-threshold shape, not CARTESIAN."""
    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY

    pa = _audit()
    df = REGISTRY["text_tfidf_keywords"].builder(spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = qe.explainString(mode.fromString("formatted"))
    simple = qe.explainString(mode.fromString("simple"))
    assert pa.audit_plan("text_tfidf_keywords", plan, simple) == []

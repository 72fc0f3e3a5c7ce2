"""Repository benchmark: what a caller pays end to end, split by layer.

    python3 perfbench/run.py --workload pipeline_ops --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json records why each was chosen):

* ``pipeline_ops`` builder-heavy and Python-worker-heavy queries plus two
                   ``plans.recursive.recursive_cte`` runs, in rounds until
                   ``--seconds`` have passed (at least MIN_ROUNDS).
* ``service_mix``  a closed loop of HMAC-signed HTTP and binary-wire
                   statements against a ``QueryServer`` in its own process,
                   for ``--seconds``.

Every run generates its inputs from ``--seed`` (sf0.01 unless ``--sf``)
under a private work directory, measures, checks every output outside
the timed region, and prints one JSON line last: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A run record with machine
conditions, per-query numbers and (traced) spans goes to
``perfbench/results/``.  The exit code is non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PIPELINE_QUERIES = [
    "graph_pagerank",
    "dedup_minhash_lsh",
]
# Builder-heavy queries of the same families that a run's time budget leaves out.
CUT = {
    "pipeline_ops": [
        "stream_scd2_apply", "graph_k_core", "stats_drift_report_multi", "fts_match_porter",
        "stats_kendall_tau", "pipeline_ngram_novelty", "knn_cosine_vectorized",
        "dedup_embedding_cosine", "text_bm25", "fts_match_trigram",
    ],
    "service_mix": [],
}
# The series passes checkpoint_every=2 so that its eager localCheckpoint
# jobs run at a depth that fits a run: at the default of 8 the first
# checkpoint needs depth 9, and plan growth between checkpoints makes
# depth 9 take about 110 s on a 4-core host.  The closure keeps the
# default and never reaches a checkpoint.
SERIES_DEPTH = 4
SERIES_CHECKPOINT_EVERY = 2
SETUP_REPS = 3
# Rounds over the operations.  An operation's cost is its lowest round,
# which leaves out the first round's JIT warm-up and Python worker
# start-up, and a burst of interference in any one round.  Op times
# still fall from the second round to the fourth while the JIT settles,
# so the minimum is taken over at least three warm rounds.
MIN_ROUNDS = 4

# Which end-to-end metric each per-layer metric should move, and where.
# BENCHMARK.json's per_layer entries take no extra keys, so the mapping
# lives here and in every run record.
MOVES = {
    "operators.build_s": "e2e_total_s on pipeline_ops; 0 on service_mix",
    "operators.build_sql_executions": "e2e_total_s on pipeline_ops; 0 on service_mix",
    "operators.build_share": "e2e_total_s on pipeline_ops",
    "plans.recursive_s": "e2e_total_s on pipeline_ops",
    "plans.recursive_sql_executions": "e2e_total_s on pipeline_ops",
    "catalyst.*": "e2e_total_s on pipeline_ops, read_p50_ms on service_mix",
    "spark.*": "e2e_total_s on pipeline_ops",
    "spark.exec_warm_s": "nothing end to end: the warm re-execution total bench.py times",
    "spark.sched_floor_s": "reported beside the totals, never subtracted",
    "http_api.overhead_ms": "read_p50_ms and throughput_sps on service_mix",
    "wire.overhead_ms": "read_p50_ms and throughput_sps on service_mix",
    "engine.read_ms": "read_p50_ms on service_mix",
    "engine.dialect_rewrite_ms": "read_p50_ms on service_mix",
    "engine.write_ms": "write_p50_ms, e2e_total_s and throughput_sps on service_mix",
    "engine.spark_executions_per_stmt": "read_p50_ms and write_p50_ms on service_mix",
    "engine.write_bytes_per_user_byte": "write_p50_ms and e2e_total_s on service_mix",
    "engine.table_files_end": "write_p50_ms and e2e_total_s on service_mix",
}


def machine_stamp(args) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load15_start": os.getloadavg()[2],
        "sf": args.sf,
        "spark_version": pyspark.__version__,
        "commit": commit,
        "seed": args.seed,
        "trace": bool(args.trace),
        "workload": args.workload,
        "seconds": args.seconds,
    }


def setup_session(app: str, data_dir: str, warehouse: str):
    """One set-up: session start, view registration and a first job."""
    from litebase_spark.catalog import register_views
    from litebase_spark.session import get_spark

    spark = get_spark(app, extra_conf={"spark.sql.warehouse.dir": warehouse})
    register_views(spark, data_dir)
    spark.range(0, 64, 1, 4).write.format("noop").mode("overwrite").save()
    return spark


def repeated_setup(tracer, *args, after_first=None) -> tuple[object, list[float]]:
    spark, samples = None, []
    for i in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        with tracer.span("setup"):
            t0 = time.perf_counter()
            spark = setup_session(*args)
            samples.append(time.perf_counter() - t0)
        if i == 0 and after_first is not None:
            after_first()
    return spark, samples


# -- pipeline_ops ------------------------------------------------------------


def recursive_cases(spark, tables):
    """(name, builder, expected rows) for the two recursive_cte runs."""
    from pyspark.sql import functions as F

    from litebase_spark.plans.recursive import recursive_cte

    def series():
        base = spark.range(1, 2).select(F.col("id").alias("n"))
        return recursive_cte(
            base,
            lambda f: f.where(F.col("n") < SERIES_DEPTH).select((F.col("n") + 1).alias("n")),
            checkpoint_every=SERIES_CHECKPOINT_EVERY,
        )

    # Reachability from region 0 down the fixture's region -> nation ->
    # supplier hierarchy.  Every node has one parent, so each step emits
    # a node at most once: recursive_cte's exceptAll-based UNION does not
    # converge when a step emits a row more than once.
    reach = {0}
    for n, r in enumerate(tables["nation"].column("n_regionkey").to_pylist()):
        if r == 0:
            reach.add(100 + n)
    for s, n in enumerate(tables["supplier"].column("s_nationkey").to_pylist()):
        if 100 + n in reach:
            reach.add(1000 + s)

    def closure():
        e = spark.table("nation").select(
            F.col("n_regionkey").cast("long").alias("src"),
            (F.col("n_nationkey") + 100).cast("long").alias("dst"),
        ).unionByName(spark.table("supplier").select(
            (F.col("s_nationkey") + 100).cast("long").alias("src"),
            (F.col("s_suppkey") + 1000).alias("dst"),
        ))
        base = spark.range(0, 1).select(F.col("id").alias("node"))
        return recursive_cte(
            base,
            lambda f: f.join(e, F.col("node") == F.col("src")).select(F.col("dst").alias("node")),
        )

    return [
        ("recursive.series", series, sorted((i,) for i in range(1, SERIES_DEPTH + 1))),
        ("recursive.closure", closure, sorted((n,) for n in reach)),
    ]


def oracle_rows(data_dir, queries, out: dict) -> None:
    """Canonical DuckDB oracle result of each query into ``out``: a
    (columns, rows) pair, or the exception the oracle raised."""
    import duckdb
    from check_oracle import canon_rows

    from litebase_spark.catalog import REGISTRY, TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for q in queries:
            try:
                cur = con.execute(REGISTRY[q].oracle)
                out[q] = canon_rows([d[0] for d in cur.description], cur.fetchall())
            except Exception as e:
                out[q] = e
    finally:
        con.close()


def check_oracle(spark_df, want) -> str | None:
    """None when the Spark result equals the oracle's, else why."""
    from check_oracle import canon_rows

    if isinstance(want, Exception):
        return f"oracle failed: {type(want).__name__}: {str(want)[:300]}"
    sc, sr = canon_rows(list(spark_df.columns), [tuple(r) for r in spark_df.collect()])
    dc, dr = want
    if sc != dc:
        return f"columns differ: {sc} vs {dc}"
    if sr != dr:
        return f"rows differ ({len(sr)} vs {len(dr)})"
    return None


def run_pipeline(args, work, data_dir, tables, tracer, log) -> dict:
    import litebase_spark.operators  # noqa: F401  (registers queries)
    from litebase_spark.catalog import REGISTRY

    from measure import RssSampler, measure, sched_floor_s, stop_spark, tail

    # The DuckDB oracle runs beside the first, cold set-up, which setup_s
    # (the median set-up) never reports, to keep a run within its budget.
    oracle: dict = {}
    oracle_thread = threading.Thread(target=oracle_rows, args=(data_dir, PIPELINE_QUERIES, oracle))
    oracle_thread.start()
    with RssSampler(os.getpid()) as rss:
        spark, setup = repeated_setup(tracer, "perfbench", data_dir, os.path.join(work, "warehouse"),
                                      after_first=oracle_thread.join)
        cases = [(q, (lambda q=q: REGISTRY[q].builder(spark, data_dir)), None) for q in PIPELINE_QUERIES]
        cases += recursive_cases(spark, tables)
        runs: dict[str, list] = {name: [] for name, _, _ in cases}
        failed, attempted, rounds = 0, 0, 0
        # Wall time a measured call spends beyond its builder and first
        # execution: the warm re-execution, harvest and spans that only
        # a traced run adds.
        overhead_s = 0.0
        # Operations run in catalogue order, not in a seeded order: the
        # first operation of a fresh JVM pays its JIT warm-up, and a seeded
        # order moved that cost between queries from run to run.
        t_start = time.perf_counter()
        while rounds < MIN_ROUNDS or time.perf_counter() - t_start < args.seconds:
            rounds += 1
            for name, fn, _ in cases:
                attempted += 1
                try:
                    t0 = time.perf_counter()
                    with tracer.span("op", query=name):
                        m = measure(spark, name, fn, warm=bool(args.trace), harvest=bool(args.trace),
                                    tracer=tracer)
                    overhead_s += time.perf_counter() - t0 - m.build_s - m.first_s
                    # Only the last DataFrame is checked; an earlier one
                    # would keep its local checkpoints alive in the JVM.
                    if runs[name]:
                        runs[name][-1].df = None
                    runs[name].append(m)
                except Exception as e:  # a failing query is a counted failure
                    failed += 1
                    log.append(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}")
    peak_rss_mb = rss.peak_bytes / 2 ** 20
    floor = sched_floor_s(spark) if args.trace else 0.0

    # Output checks, outside the timed region.
    for name, _, expected in cases:
        if not runs[name]:
            continue
        df = runs[name][-1].df
        try:
            if expected is not None:
                got = sorted(tuple(r) for r in df.collect())
                why = None if got == expected else f"{len(got)} rows, expected {len(expected)}"
            else:
                why = check_oracle(df, oracle[name])
        except Exception as e:
            why = f"{type(e).__name__}: {str(e)[:300]}"
        if why:
            failed += 1
            log.append(f"WRONG {name}: {why}")
    stop_spark(spark)

    done = [name for name, _, _ in cases if runs[name]]
    best = {n: min(runs[n], key=lambda m: m.build_s + m.first_s) for n in done}
    per_op = {n: m.build_s + m.first_s for n, m in best.items()}
    queries_done = [n for n in done if not n.startswith("recursive.")]
    recursions = [n for n in done if n.startswith("recursive.")]
    e2e = sum(per_op.values())
    tail_ms, tail_pct = tail([v * 1000 for v in per_op.values()])
    build_s = sum(best[n].build_s for n in queries_done)
    layer = {
        "operators.build_s": build_s,
        "operators.build_sql_executions": sum(best[n].build_sql_executions for n in queries_done),
        "operators.build_share": build_s / max(1e-9, sum(per_op[n] for n in queries_done)),
        "plans.recursive_s": sum(best[n].build_s for n in recursions),
        "plans.recursive_sql_executions": sum(best[n].build_sql_executions for n in recursions),
        "spark.exec_first_s": sum(m.first_s for m in best.values()),
        "spark.exec_warm_s": sum(m.warm_s or 0.0 for m in best.values()),
        "spark.sched_floor_s": floor,
        "peak_rss_mb": peak_rss_mb,
        "read_tail_ms": tail_ms,
        "trace.overhead_s": overhead_s,
    }
    if args.trace:
        for phase in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{phase}_ms"] = sum(m.phases_ms.get(phase, 0.0) for m in best.values())
        for key in best[done[0]].ops:
            layer[key] = sum(m.ops[key] for m in best.values())
    return {
        "attempted": attempted,
        "failed": failed,
        # read_p50_ms and throughput_sps derive from the same per-op
        # costs that e2e_total_s sums; they are not separate evidence.
        "e2e": {
            "setup_s": median(setup),
            "e2e_total_s": e2e,
            "read_p50_ms": median(per_op.values()) * 1000,
            "throughput_sps": len(per_op) / e2e,
        },
        "layer": layer,
        "record": {
            "setup_samples_s": setup,
            "rounds": rounds,
            "read_tail_percentile": tail_pct,
            "read_samples": len(per_op),
            "warm_total_s": layer["spark.exec_warm_s"],
            "per_query": {
                n: {
                    "build_s": [m.build_s for m in runs[n]],
                    "first_s": [m.first_s for m in runs[n]],
                    "warm_s": [m.warm_s for m in runs[n]],
                    "build_sql_executions": best[n].build_sql_executions,
                    "phases_ms": best[n].phases_ms,
                    "ops": best[n].ops,
                }
                for n in done
            },
        },
    }


# -- entry point -------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline_ops", "service_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="fixture scale factor")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "litebase_spark")):
        print(f"litebase_spark not found under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Nothing outside the work directory: Python temp files (the stream
    # operators keep their state there), JVM temp files, JVM perf data.
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

    from measure import Tracer

    import fixtures

    record = {"machine": machine_stamp(args), "cut": CUT[args.workload], "moves": MOVES}
    tracer = Tracer(bool(args.trace))
    log: list[str] = []
    try:
        data_dir = os.path.join(work, "data")
        tables = fixtures.build_tables(args.seed, args.sf)
        fixtures.write_tables(tables, data_dir)
        if args.workload == "service_mix":
            import service

            res = service.run(args, work, data_dir, tables, tracer, log)
        else:
            res = run_pipeline(args, work, data_dir, tables, tracer, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["machine"]["load15_end"] = os.getloadavg()[2]
    failed_ratio = res["failed"] / res["attempted"]
    res["layer"]["failed_ratio"] = failed_ratio
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layer"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    correct = res["failed"] == 0
    record.update(res["record"], e2e=res["e2e"], layer=res["layer"], log=log, spans=tracer.spans)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(HERE, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for line in log:
        print(line, file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Layer table: where each registered query's time goes.

One row per query, every number from ``perfbench.measure`` (through
``bench.query_record``, the same record bench.py keeps per headline
query): builder seconds and the SQL executions the builder ran, first
and warm execution (warm = min of two runs), e2e = build + first, the
Catalyst analysis/optimization/planning ms, the Spark counters of the
builder's and first run's executions (stages, tasks, shuffle read and
write, spill, peak execution memory, scan and Python UDF time) and
``ckpt_MB``, what the RDDs the query persisted (its localCheckpoints)
hold by ``getRDDStorageInfo``. The scheduler floor
(``perfbench.measure.sched_floor_s``) is printed once beside the totals
and never subtracted.

Names are registered queries or the groups ``headline`` (bench.py's
set) and ``scale_stress`` (its QUERIES); none means every registered
query. ``--x K [--mutate]`` runs on the x-K fact replica
(``scale_stress.build_replica``): the per-query cap defaults to 120 s,
the ISOLATE_AT_X giants of a group or default run each get a fresh
JVM, and on the verbatim replica groups and the default drop
REPLICA_EXCLUDE. A query that kills the JVM is recorded and the run
goes on in a new one. ``--duckdb`` adds each oracle's DuckDB time over
the same files. ``--out F.md`` writes the table above F's ``## Notes``
section, which is kept; ``--out F.json`` writes the rows.

Usage:
  python tools/layers.py q6_forecast_revenue --sf-dir DIR
  python tools/layers.py --x 100 --mutate --out SWEEP_X100.md
  python tools/layers.py headline --x 10 --duckdb --out BENCH_SF1.md
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import threading
import time

from py4j.protocol import Py4JError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import (  # noqa: E402
    HEADLINE,
    duckdb_connect,
    duckdb_times,
    query_record,
    read_loadavg,
    warm_up,
)
from tools.scale_stress import BASE, QUERIES, build_replica  # noqa: E402

# Queries whose x100m executions hold multi-GB state (embedding-pair
# giants): running them back-to-back inside ONE long-lived JVM degrades
# every successor (GC-locker thrash after a capped/cancelled giant), so
# the r13 sweep table showed them ">cap" while isolated fresh-JVM runs
# measured 53-98 s. With --x they run in a forked fresh JVM each (same
# script, single-name invocation; the replica marker makes the rebuild
# a no-op), so the committed table carries the honest isolated numbers.
ISOLATE_AT_X = (
    "dedup_components",  # ngram-pair build + components loop: build
    #                      alone is ~110 s at x100m, over the 120 s
    #                      in-thread budget
    "dedup_embedding_blocked",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh_verified",
    "dedup_semantic",
)

# Queries whose work the VERBATIM replica changes semantically, not
# just in volume: x-K identical copies of every row turn each
# duplicate bucket into a K-clique that real data with a natural
# duplicate rate would not have. The mutated replica (--mutate) keeps
# duplicate density realistic, so it runs them.
REPLICA_EXCLUDE = {
    "multimodal_phash_dedup": "pair-forming: identical replica copies "
    "collide in every pHash band (k-cliques the real duplicate rate "
    "would not produce) — same class as the minhash/SRP exclusions",
    "dedup_embedding_cosine": "quadratic parity baseline (scale path = "
    "dedup_embedding_lsh_verified)",
    "dedup_embedding_blocked": "quadratic triangle-block baseline (same)",
    "dedup_embedding_lsh_verified": "replica artifact: identical copies "
    "turn every SRP bucket into a k-clique, quadratic verify pairs real "
    "data would not have (banding math in SCALE.md covers the true "
    "scale path)",
    "text_containment_rare": "pair-forming: identical copies make every "
    "rare-shingle bucket a k-clique (same class as the minhash/SRP "
    "exclusions)",
}

_MB = 1e6
PHASES = ("analysis", "optimization", "planning")
# column -> its value in a query_record row
COLUMNS = {
    "build_s": lambda r: r["build_s"],
    "build_sql": lambda r: r["build_sql_executions"],
    "first_s": lambda r: r["first_s"],
    "warm_s": lambda r: r["warm_s"],
    "e2e_s": lambda r: r["e2e_s"],
    **{f"{p}_ms": (lambda r, p=p: r["phases_ms"][p]) for p in PHASES},
    "stages": lambda r: r["ops"]["spark.stages"],
    "tasks": lambda r: r["ops"]["spark.tasks"],
    "shuffle_read_MB": lambda r: r["ops"]["spark.shuffle_read_bytes"] / _MB,
    "shuffle_write_MB": lambda r: r["ops"]["spark.shuffle_write_bytes"] / _MB,
    "spill_MB": lambda r: r["ops"]["spark.spill_bytes"] / _MB,
    "peak_mem_MB": lambda r: r["ops"]["spark.peak_exec_memory_bytes"] / _MB,
    "scan_ms": lambda r: r["ops"]["spark.scan_time_ms"],
    "py_udf_ms": lambda r: r["ops"]["spark.python_udf_ms"],
    "ckpt_MB": lambda r: r["ckpt_bytes"] / _MB,
}


def _release_new_rdds(sc, before: set) -> int:
    """Bytes held by the RDDs persisted since ``before`` (a query's
    localCheckpoints), which are then unpersisted so the next query's
    figure is its own."""
    new = {i: r for i, r in sc._jsc.getPersistentRDDs().items()
           if i not in before}
    held = sum(info.memSize() + info.diskSize()
               for info in sc._jsc.sc().getRDDStorageInfo()
               if info.id() in new)
    for rdd in new.values():
        rdd.unpersist()
    return held


def layer_row(spark, name: str, sf_dir: str, cap: float | None = None) -> dict:
    """``bench.query_record`` plus ``ckpt_bytes`` for one query, run in a
    worker thread whose job group is cancelled after ``cap`` seconds.
    Returns the row, or {"err": ...} (with "capped" at the cap)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs())
    out: dict = {}
    group = f"layers-{name}"

    def work():
        try:
            # job groups are thread-local: one thread per query keeps a
            # cancelled group from leaking into the next query
            sc.setJobGroup(group, name, True)
            row = query_record(spark, name, sf_dir)
            row["ckpt_bytes"] = _release_new_rdds(sc, before)
            out.update(row)
        except Exception as exc:
            out["err"] = str(exc).splitlines()[0][:140]

    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(cap)
    if th.is_alive():
        sc.cancelJobGroup(group)
        th.join(60)
        return {"err": f">cap {cap:.0f}s (job group cancelled)", "capped": True}
    return out


def _forked_row(name: str, args, cap: float) -> dict:
    """One query in a fresh JVM: this script on the single name, its row
    handed back through ``--out`` JSON (the replica build is a
    marker-file no-op in the child)."""
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "row.json")
        cmd = [sys.executable, os.path.abspath(__file__), name,
               "--x", str(args.x), "--cap", str(cap), "--out", path]
        if args.mutate:
            cmd.append("--mutate")
        try:
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=cap + 300, cwd=ROOT)
        except subprocess.TimeoutExpired:
            return {"err": f">cap {cap:.0f}s (isolated JVM timed out)",
                    "capped": True}
        if not os.path.exists(path):
            tail = (proc.stderr or proc.stdout).strip().splitlines()
            return {"err": "isolated JVM wrote no row: "
                    + (tail[-1][:120] if tail else f"rc={proc.returncode}")}
        with open(path) as f:
            row = json.load(f)[name]
    if "err" in row:
        row["err"] += " [isolated JVM]"
    return row


def _alive(spark) -> bool:
    try:
        spark.range(1).count()
        return True
    except (OSError, Py4JError):
        return False


def _restart(spark):
    """A new session after a query killed the JVM (a per-query OOM in
    local mode takes the whole JVM down). ``stop_spark`` cannot talk to
    a dead JVM, so PySpark's handles to it are dropped instead."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from litebase_spark.session import get_spark
    from perfbench.measure import stop_spark

    try:
        stop_spark(spark)
    except (OSError, Py4JError):
        SparkContext._active_spark_context = None
        SparkContext._gateway = SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
    spark = get_spark("layers")
    warm_up(spark)
    return spark


def pick_names(names: list[str], verbatim_replica: bool):
    """Query names as given; the groups and the empty default expand,
    dropping REPLICA_EXCLUDE on the verbatim replica. Returns (names,
    {excluded name: why})."""
    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY

    groups = {"headline": HEADLINE, "scale_stress": QUERIES}
    out, excluded = [], {}
    for n in names or [None]:
        group = sorted(REGISTRY) if n is None else groups.get(n)
        if group is None:
            out.append(n)
            continue
        for g in group:
            if verbatim_replica and g in REPLICA_EXCLUDE:
                excluded[g] = REPLICA_EXCLUDE[g]
            else:
                out.append(g)
    unknown = [n for n in out if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown query or group: {', '.join(unknown)}")
    return out, excluded


def _cell(v: float) -> str:
    return f"{v:,.2f}".rstrip("0").rstrip(".")


def markdown(title: str, method: str, rows: dict, floor: float,
             duck: dict, excluded: dict, duck_failed: dict) -> list[str]:
    """The layer table, slowest e2e first, with a totals row, the floor
    beside it, and failed/excluded queries listed."""
    ok = sorted((n for n in rows if "err" not in rows[n]),
                key=lambda n: -rows[n]["e2e_s"])
    cols = list(COLUMNS) + (["duckdb_s"] if duck else [])

    def cells(vals):
        return "| " + " | ".join(vals) + " |"

    lines = [f"# {title}", "", method, ""]
    bad = [n for n in rows if "err" in rows[n]]
    if bad:
        lines += ["## Capped / errored", ""]
        lines += [f"- `{n}` — {rows[n]['err']}" for n in bad] + [""]
    lines += [cells(["query"] + cols), cells(["---"] * (len(cols) + 1))]
    for n in ok:
        vals = [_cell(f(rows[n])) for f in COLUMNS.values()]
        if duck:
            vals.append(_cell(duck[n]) if n in duck else "—")
        lines.append(cells([n] + vals))
    totals = [_cell(sum(f(rows[n]) for n in ok)) for f in COLUMNS.values()]
    if duck:
        totals.append(_cell(sum(duck.get(n, 0.0) for n in ok)))
    lines += [cells([f"**total ({len(ok)})**"] + totals), ""]
    lines.append(
        f"Scheduler floor (`perfbench.measure.sched_floor_s`, median "
        f"one-shuffle no-data job): {floor:.3f} s per query — beside the "
        "totals, not subtracted from them."
    )
    both = [n for n in ok if n in duck]
    if both:
        s = sum(rows[n]["warm_s"] for n in both)
        d = sum(duck[n] for n in both)
        lines.append(
            f"Both-engines subset ({len(both)}): Spark warm {s:.1f} s vs "
            f"DuckDB {d:.1f} s = {s / d:.2f}x."
        )
    for head, items in (
        ("Excluded on the verbatim replica (not measured):", excluded),
        ("DuckDB side failed (Spark time stands alone):", duck_failed),
    ):
        if items:
            lines += ["", head, ""]
            lines += [f"- `{k}` — {why}" for k, why in items.items()]
    return lines


def write_out(path: str, rows: dict, lines: list[str]) -> None:
    if path.endswith(".json"):
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
        return
    notes = ""
    if os.path.exists(path):
        with open(path) as f:
            text = f.read()
        if "\n## Notes" in text:
            notes = text[text.index("\n## Notes"):]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n" + notes)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*",
                    help="queries or groups (headline, scale_stress); "
                    "default: every registered query")
    ap.add_argument("--sf-dir", default=BASE)
    ap.add_argument("--x", type=int, default=None,
                    help="run on the x-K fact replica of the base fixture "
                    "(built if absent)")
    ap.add_argument("--mutate", action="store_true",
                    help="with --x: the mutated replica (~2%% near-dup "
                    "copies) instead of verbatim copies")
    ap.add_argument("--cap", type=float, default=None,
                    help="per-query wall cap in seconds (default: none, "
                    "120 with --x)")
    ap.add_argument("--duckdb", action="store_true",
                    help="add each oracle's DuckDB time on the same files")
    ap.add_argument("--out", default=None,
                    help="write the table to F.md (keeping its ## Notes) "
                    "or the rows to F.json")
    args = ap.parse_args()

    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY
    from litebase_spark.session import get_spark
    from perfbench.measure import sched_floor_s

    load = read_loadavg()
    names, excluded = pick_names(args.names, bool(args.x and not args.mutate))
    spark = get_spark("layers")
    warm_up(spark)
    sf_dir = args.sf_dir
    if args.x:
        t0 = time.time()
        sf_dir = build_replica(spark, args.x, mutate=args.mutate)
        print(f"# x{args.x} replica ready in {time.time() - t0:.1f}s "
              f"at {sf_dir}", file=sys.stderr)
    cap = args.cap if args.cap is not None else (120.0 if args.x else None)
    floor = sched_floor_s(spark)
    # explicitly named queries never fork: the child's recursion guard
    isolate = set(ISOLATE_AT_X) - set(args.names) if args.x else set()

    rows: dict[str, dict] = {}
    for i, name in enumerate(names, 1):
        if name in isolate:
            # the isolated giants legitimately run 50-100 s warm; 480 s
            # bounds a runaway without censoring them
            r = _forked_row(name, args, max(cap, 480.0))
        else:
            r = layer_row(spark, name, sf_dir, cap)
        if "err" in r and not r.get("capped") and not _alive(spark):
            r["err"] = ("JVM died executing this query at this scale "
                        f"(heap exhaustion class) — original: {r['err']}")
            spark = _restart(spark)
        rows[name] = r
        done = (f"ERR {r['err']}" if "err" in r
                else f"e2e {r['e2e_s']:.2f}s warm {r['warm_s']:.2f}s")
        print(f"# [{i}/{len(names)}] {name} {done}", file=sys.stderr,
              flush=True)

    duck, duck_failed = {}, {}
    if args.duckdb:
        oracles = {n: REGISTRY[n].oracle for n in names
                   if REGISTRY[n].oracle is not None}
        duck, duck_failed = duckdb_times(duckdb_connect(sf_dir), oracles)

    where = (f"x{args.x}{'m (mutated)' if args.mutate else ''} replica"
             if args.x else sf_dir)
    title = (f"Layer table — {where}, "
             f"local[{spark.sparkContext.defaultParallelism}], "
             f"{len(names)} queries")
    method = (
        "perfbench.measure per query, noop sink: build, first run, two "
        "warm runs (warm_s = min); e2e_s = build_s + first_s; phases, "
        "stages and operator counters cover the builder's and first "
        "run's SQL executions; ckpt_MB = persisted RDDs the query left. "
        + (f"Per-query cap {cap:.0f} s via cancelJobGroup. " if cap else "")
        + "Machine load at run start (1m/5m/15m): "
        f"{load[0]:.2f}/{load[1]:.2f}/{load[2]:.2f}."
    )
    lines = markdown(title, method, rows, floor, duck, excluded, duck_failed)
    print("\n".join(lines))
    if args.out:
        write_out(args.out, rows, lines)
        print(f"# wrote {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

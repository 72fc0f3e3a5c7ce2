"""Measurement helpers shared by every workload.

``measure(spark, name, fn)`` times one call into the program from
outside: the builder call ``fn()``, the first execution of the DataFrame
it returns (to the ``noop`` sink), and a warm re-execution.  With
``harvest=True`` it also reads Catalyst phase times from the
DataFrame's ``QueryExecution`` tracker and per-operator SQL metrics from
the SQL status store (``executionMetrics(id)`` / ``planGraph(id)``),
which Spark keeps with ``spark.ui.enabled=false``.

Spans are recorded by ``Tracer`` around each layer call and written out
when the run ends; they cost nothing when tracing is off.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

# Operator metric name -> per-layer metric it adds to.
_SUM_METRICS = {
    "shuffle bytes written": "spark.shuffle_write_bytes",
    "local bytes read": "spark.shuffle_read_bytes",
    "remote bytes read": "spark.shuffle_read_bytes",
    "spill size": "spark.spill_bytes",
    "peak memory": "spark.peak_exec_memory_bytes",
    "scan time": "spark.scan_time_ms",
    "time to run Python workers": "spark.python_udf_ms",
}
SPARK_COUNTERS = (
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.peak_exec_memory_bytes",
    "spark.scan_time_ms",
    "spark.python_udf_ms",
)
_UNIT = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ns": 1e-6, "us": 1e-3, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Numeric value of a formatted SQL metric: the total, in bytes for
    sizes and milliseconds for timings.  Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


class Tracer:
    """In-memory spans: (id, parent, name, start, end, attrs)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter() - self.t0
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({
                "id": sid, "parent": parent, "name": name,
                "start": start, "end": time.perf_counter() - self.t0,
                **attrs,
            })


@dataclass
class Measurement:
    name: str
    build_s: float
    build_sql_executions: int
    first_s: float
    warm_s: float | None = None
    phases_ms: dict[str, float] = field(default_factory=dict)
    ops: dict[str, float] = field(default_factory=dict)
    df: object = None


def status_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


def catalyst_phases(df) -> dict[str, float]:
    """analysis/optimization/planning ms of the DataFrame's own
    QueryExecution.  Analysis ran when the builder made the DataFrame;
    asking for the executed plan runs the other two phases here."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    for kv in _scala_iter(qe.tracker().phases().iterator()):
        out[kv._1()] = float(kv._2().durationMs())
    return out


def operator_metrics(spark, lo: int, hi: int) -> dict[str, float]:
    """Per-layer Spark counters summed over executions with lo <= id < hi."""
    store = status_store(spark)
    tracker = spark.sparkContext.statusTracker()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for ui in _scala_iter(store.executionsList().iterator()):
        eid = ui.executionId()
        if not lo <= eid < hi:
            continue
        stages = [int(s) for s in _scala_iter(ui.stages().iterator())]
        out["spark.stages"] += len(stages)
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                out["spark.tasks"] += info.numTasks
        values = store.executionMetrics(eid)
        for node in _scala_iter(store.planGraph(eid).allNodes().iterator()):
            for sm in _scala_iter(node.metrics().iterator()):
                key = _SUM_METRICS.get(sm.name())
                if key is None:
                    continue
                v = values.get(sm.accumulatorId())
                out[key] += parse_metric(v.get() if v.isDefined() else None)
    return out


def next_execution_id(spark) -> int:
    """Id the next SQL execution will get (ids are dense from 0)."""
    ids = [ui.executionId() for ui in _scala_iter(status_store(spark).executionsList().iterator())]
    return max(ids) + 1 if ids else 0


def measure(spark, name, fn, *, warm=True, harvest=False, tracer=None) -> Measurement:
    """Time one builder call and the executions of what it returns.

    Returns builder seconds, SQL executions the builder ran itself
    (the delta of the status store's ``executionsCount``), first and
    warm execution seconds and, with ``harvest``, Catalyst phases and
    operator metrics over the builder's and the first execution's SQL
    executions."""
    tracer = tracer or Tracer(False)
    store = status_store(spark)
    first_id = next_execution_id(spark) if harvest else 0
    n0 = store.executionsCount()
    with tracer.span("operators.build", query=name):
        t0 = time.perf_counter()
        df = fn()
        build_s = time.perf_counter() - t0
    build_execs = store.executionsCount() - n0
    with tracer.span("spark.exec_first", query=name):
        first_s = _noop(df)
    end_id = next_execution_id(spark) if harvest else 0
    warm_s = None
    if warm:
        with tracer.span("spark.exec_warm", query=name):
            warm_s = _noop(df)
    m = Measurement(name, build_s, build_execs, first_s, warm_s, df=df)
    if harvest:
        with tracer.span("trace.harvest", query=name):
            m.phases_ms = catalyst_phases(df)
            m.ops = operator_metrics(spark, first_id, end_id)
    return m


def stop_spark(spark) -> None:
    """Stop the session and the JVM PySpark launched for it, and wait
    until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def sched_floor_s(spark, reps: int = 5) -> float:
    """Median time of a one-shuffle job over no data: Spark's fixed cost
    per query, reported beside the totals and never subtracted."""
    df = spark.range(0, 0, 1, 1).repartition(2)
    return statistics.median(_noop(df) for _ in range(reps))


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples that point would sit
    at or below the median, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


class RssSampler:
    """High-water resident set size of a process and its descendants,
    sampled from /proc every 200 ms on a background thread."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> int:
        total = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

"""service_mix: a closed loop of statements against a QueryServer.

The server runs in its own process (``python3 service.py serve ...``) so
the client threads do not share its interpreter lock.  The client keeps
at most ``nproc`` (capped at 4) connections busy, each sending its next
statement only after the previous reply:

* connection 0 writes: INSERT, UPDATE and DELETE on the benchmark-owned
  table ``bench_kv``, in seeded order within cycles of one of each, so
  the table stays within a row of its initial TABLE_CAP/2 rows; each
  write is followed by a read-back of the key it touched, a check that
  counts towards throughput but not towards read latency;
* connection 1 reads over the binary stream route (``wire``);
* the others read over the JSON route with HMAC-signed requests.

Reads draw, with equal weights, one of the three kinds of read the
benchmark names: ``?``-parameterized point lookups on ``orders``, small
range aggregates, and statements using SQLite-dialect functions (half
``strftime``/``printf``/``iif``/``typeof``, half ``glob``).  The mix and
the one-writer split are assumptions, not measured traffic.  Every reply
is checked against values computed from the fixture or from the client's
model of ``bench_kv``.

The loop first runs WARMUP_S untimed, while the server's JIT settles
(read latency falls by a third to a half over that span), and then
``--seconds`` timed; only statements started in the
timed window count towards the latency and throughput metrics.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import select
import subprocess
import sys
import threading
import time
from decimal import Decimal
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
KEY_ID = "perfbench"
KV = "bench_kv"
TABLE_CAP = 48
SETUP_REPS = 3
WARMUP_S = 16.0
QUERY_PATH = "/v1/databases/main/main/query"
STREAM_PATH = "/v1/databases/main/main/query/stream"
PRIORITY_PREFIXES = ["1", "2", "3", "4", "5"]

READS = {
    "point": "SELECT o_totalprice, o_orderstatus FROM orders WHERE o_orderkey = ?",
    "range_agg": (
        "SELECT COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total "
        "FROM orders WHERE o_orderkey BETWEEN ? AND ?"
    ),
    "dialect": (
        "SELECT strftime('%Y-%m', o_orderdate) AS ym, printf('%.2f', o_totalprice) AS p, "
        "iif(o_totalprice > 250000, 1, 0) AS big, typeof(o_custkey) AS t "
        "FROM orders WHERE o_orderkey = ?"
    ),
    "glob": "SELECT COUNT(*) AS n FROM orders WHERE glob('{p}*', o_orderpriority) AND o_orderkey < ?",
}
READ_KINDS = [["point"], ["range_agg"], ["dialect", "glob"]]
KV_READ = f"SELECT v FROM {KV} WHERE k = ?"


def _secret(seed: int) -> str:
    return f"perfbench-secret-{seed}"


# -- server process ----------------------------------------------------------


def serve(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    from litebase_spark.catalog import TABLES
    from litebase_spark.engine import Engine
    from litebase_spark.http_api import AccessKey, AccessKeyManager, AccessKeyStatement, QueryServer
    from litebase_spark.session import get_spark

    from measure import measure, sched_floor_s, status_store, stop_spark

    samples, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench-service", extra_conf={"spark.sql.warehouse.dir": args.warehouse})
        engine = Engine(spark=spark)
        engine.register_parquet_dir(args.data, TABLES)
        engine.sql(READS["point"], [0])
        samples.append(time.perf_counter() - t0)

    rng = random.Random(args.seed)
    engine.sql(f"DROP TABLE IF EXISTS {KV}")
    engine.sql(f"CREATE TABLE {KV} (k BIGINT, v BIGINT) USING PARQUET")
    initial = [(k, rng.randrange(1000)) for k in range(TABLE_CAP // 2)]
    engine.sql(f"INSERT INTO {KV} VALUES " + ", ".join(f"({k}, {v})" for k, v in initial))
    keys = AccessKeyManager()
    keys.store(AccessKey(KEY_ID, _secret(args.seed), [AccessKeyStatement(["*"], ["*"])]))
    srv = QueryServer(engine, keys)
    srv.start()
    store = status_store(spark)
    print(json.dumps({
        "port": srv.port, "setup_samples_s": samples, "initial": initial,
        "executions": store.executionsCount(),
    }), flush=True)

    sys.stdin.readline()  # the client writes a line (or closes) when done
    final = {"executions": store.executionsCount()}
    srv.stop()
    if args.trace:
        # Per-layer numbers for the read statements: one measured
        # build (Engine.df) and execution of each template.
        t0 = time.perf_counter()
        ms = [
            measure(spark, name, lambda s=stmt, p=params: engine.df(s, p), harvest=True)
            for name, stmt, params in (
                ("point", READS["point"], [1]),
                ("range_agg", READS["range_agg"], [1, 100]),
                ("dialect", READS["dialect"], [1]),
                ("glob", READS["glob"].format(p="1"), [100]),
            )
        ]
        final["templates"] = [
            {"name": m.name, "build_s": m.build_s, "first_s": m.first_s, "warm_s": m.warm_s,
             "phases_ms": m.phases_ms, "ops": m.ops}
            for m in ms
        ]
        final["sched_floor_s"] = sched_floor_s(spark)
        final["measure_s"] = time.perf_counter() - t0
    stop_spark(spark)
    print(json.dumps(final), flush=True)
    return 0


# -- client ------------------------------------------------------------------


class Expect:
    """Expected read results, computed from the generated fixture."""

    def __init__(self, orders) -> None:
        import numpy as np

        self.n = orders.num_rows
        self.price = orders.column("o_totalprice").to_pylist()
        self.status = orders.column("o_orderstatus").to_pylist()
        self.dates = orders.column("o_orderdate").to_pylist()
        self.custkey_type = "integer"
        cents = np.round(np.asarray(self.price) * 100).astype(np.int64)
        self.cum_cents = np.concatenate([[0], np.cumsum(cents)])
        prio = orders.column("o_orderpriority").to_pylist()
        self.cum_prio = {
            p: np.concatenate([[0], np.cumsum([x.startswith(p) for x in prio])])
            for p in PRIORITY_PREFIXES
        }

    def read(self, rng: random.Random):
        """(template, statement, params, expected rows) for one read."""
        name = rng.choice(rng.choice(READ_KINDS))
        k = rng.randrange(self.n)
        if name == "point":
            return name, READS[name], [k], [[self.price[k], self.status[k]]]
        if name == "range_agg":
            hi = min(self.n - 1, k + 99)
            total = float(Decimal(int(self.cum_cents[hi + 1] - self.cum_cents[k])) / 100)
            return name, READS[name], [k, hi], [[hi - k + 1, total]]
        if name == "dialect":
            p = self.price[k]
            row = [self.dates[k].strftime("%Y-%m"), "%.2f" % p, int(p > 250000), self.custkey_type]
            return name, READS[name], [k], [row]
        prefix = rng.choice(PRIORITY_PREFIXES)
        return name, READS[name].format(p=prefix), [k], [[int(self.cum_prio[prefix][k])]]


def _typed(params):
    return [{"type": "INTEGER", "value": int(v)} for v in params]


class JsonClient:
    """One HMAC-signed request per statement over the JSON route."""

    def __init__(self, port: int, seed: int) -> None:
        self.port, self.secret = port, _secret(seed)

    def query(self, statement: str, params=None):
        """(rows, changes, envelope latency s) or raises."""
        from litebase_spark.http_api import sign_request

        q = {"id": "1", "statement": statement}
        if params:
            q["parameters"] = _typed(params)
        body = json.dumps({"queries": [q]}).encode()
        headers = {
            "Content-Type": "application/json",
            "Host": f"127.0.0.1:{self.port}",
            "X-Lbdb-Date": str(int(time.time())),
        }
        headers["Authorization"] = sign_request(KEY_ID, self.secret, "POST", QUERY_PATH, headers, body)
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("POST", QUERY_PATH, body=body, headers=headers)
            resp = conn.getresponse()
            payload = json.loads(resp.read())
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {payload.get('message')}")
        env = payload["data"][0]
        return env["rows"], env["changes"], env["latency"]


class WireClient:
    """Statements over one binary stream connection."""

    def __init__(self, port: int, seed: int) -> None:
        from litebase_spark.wire import BinaryStreamClient

        # The stream client sends no X-Lbdb-Date header, so it cannot
        # carry a signed token; it authenticates with the key pair.
        self.c = BinaryStreamClient("127.0.0.1", port, STREAM_PATH, f"Bearer {KEY_ID}:{_secret(seed)}")
        self.c.open()

    def query(self, statement: str, params=None):
        r = self.c.query("1", statement, _typed(params) if params else None)
        if r.error:
            raise RuntimeError(r.error)
        return r.rows, r.changes, r.latency

    def close(self) -> None:
        self.c.close()


class Loop:
    """Shared state of one closed-loop run."""

    def __init__(self, trace: bool, table_dir: str) -> None:
        self.measure_from = self.deadline = 0.0
        self.trace = trace
        self.table_dir = table_dir
        self.lock = threading.Lock()
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.write_bytes = 0
        self.user_bytes = 0
        self.scan_s = 0.0
        self._files: set[str] = set()

    def call(self, client, route, cls, name, statement, params, expect=None, changes=None) -> bool:
        t0 = time.perf_counter()
        try:
            rows, got_changes, latency = client.query(statement, params)
            ok = (expect is None or rows == expect) and (changes is None or got_changes == changes)
            why = None if ok else f"{name}: got {rows!r}/{got_changes}, expected {expect!r}/{changes}"
        except Exception as e:  # a refused or failed statement is a counted failure
            latency, ok, why = None, False, f"{name}: {type(e).__name__}: {str(e)[:200]}"
        elapsed = time.perf_counter() - t0
        with self.lock:
            self.samples.append({"t": t0, "route": route, "class": cls, "name": name,
                                 "client_s": elapsed, "server_s": latency, "ok": ok})
            if why:
                self.failures.append(why)
        return ok

    def scan_new_files(self, user_bytes: int) -> None:
        """Bytes of table files that appeared since the last scan."""
        t0 = time.perf_counter()
        new = 0
        for f in os.listdir(self.table_dir):
            path = os.path.join(self.table_dir, f)
            if f not in self._files and os.path.isfile(path):
                self._files.add(f)
                new += os.path.getsize(path)
        self.write_bytes += new
        self.user_bytes += user_bytes
        self.scan_s += time.perf_counter() - t0


def _reader(loop: Loop, client, route: str, expect: Expect, rng: random.Random) -> None:
    while time.perf_counter() < loop.deadline:
        name, stmt, params, rows = expect.read(rng)
        loop.call(client, route, "read", name, stmt, params, expect=rows)


def _writer(loop: Loop, client, model: dict, rng: random.Random) -> None:
    next_key = max(model) + 1
    cycle: list[str] = []
    while time.perf_counter() < loop.deadline:
        if not cycle:
            cycle = ["insert", "update", "delete"]
            rng.shuffle(cycle)
        op = cycle.pop()
        if op == "insert":
            k, v = next_key, rng.randrange(1000)
            next_key += 1
            stmt = f"INSERT INTO {KV} VALUES ({k}, {v})"
        elif op == "update":
            k = rng.choice(sorted(model))
            v = model[k] + rng.randrange(1, 10)
            stmt = f"UPDATE {KV} SET v = v + {v - model[k]} WHERE k = {k}"
        else:
            k, v = min(model), None
            stmt = f"DELETE FROM {KV} WHERE k = {k}"
        if not loop.call(client, "http", "write", op, stmt, None, changes=1):
            return  # the model no longer matches the table
        if v is None:
            del model[k]
        else:
            model[k] = v
        if loop.trace:
            loop.scan_new_files(16)  # two BIGINTs per changed row
        loop.call(client, "http", "readback", "kv_point", KV_READ, [k], expect=[[v]] if v is not None else [])


def _read_json_line(proc, timeout: float) -> dict:
    end = time.monotonic() + timeout
    while True:
        left = end - time.monotonic()
        if left <= 0 or not select.select([proc.stdout], [], [], left)[0]:
            raise TimeoutError("query server did not answer in time")
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError(f"query server exited with code {proc.wait()}")
        if line.startswith("{"):
            return json.loads(line)


def run(args, work, data_dir, tables, tracer, log) -> dict:
    from litebase_spark.functions import dialect

    from measure import RssSampler, tail

    warehouse = os.path.join(work, "warehouse")
    cmd = [sys.executable, os.path.join(HERE, "service.py"), "serve", "--data", data_dir,
           "--warehouse", warehouse, "--seed", str(args.seed), "--trace", str(args.trace)]
    with open(os.path.join(work, "server.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err, text=True)
    try:
        with tracer.span("setup"):
            ready = _read_json_line(proc, 170)
        port = ready["port"]
        model = dict((k, v) for k, v in ready["initial"])
        expect = Expect(tables["orders"])
        n_conn = max(2, min(4, len(os.sched_getaffinity(0))))
        rngs = [random.Random(args.seed * 1009 + i) for i in range(n_conn)]
        loop = Loop(bool(args.trace), os.path.join(warehouse, KV))
        if loop.trace:
            loop.scan_new_files(0)
        wire_client = WireClient(port, args.seed)
        json_client = JsonClient(port, args.seed)
        threads = [threading.Thread(target=_writer, args=(loop, json_client, model, rngs[0])),
                   threading.Thread(target=_reader, args=(loop, wire_client, "wire", expect, rngs[1]))]
        threads += [threading.Thread(target=_reader, args=(loop, json_client, "http", expect, rngs[i]))
                    for i in range(2, n_conn)]
        with RssSampler(proc.pid) as rss, tracer.span("closed_loop", connections=n_conn):
            loop.measure_from = time.perf_counter() + WARMUP_S
            loop.deadline = loop.measure_from + args.seconds
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            loop_s = time.perf_counter() - loop.measure_from
        wire_client.close()

        # Output checks, outside the timed region: the table must hold
        # exactly the model's rows and stay bounded.
        rows, _, _ = json_client.query(f"SELECT k, v FROM {KV} ORDER BY k")
        table_rows_end = len(rows)
        if rows != [[k, v] for k, v in sorted(model.items())] or table_rows_end > TABLE_CAP:
            loop.failures.append(f"{KV} holds {table_rows_end} rows that differ from the client's model")
        table_files_end = sum(1 for f in os.listdir(loop.table_dir) if f.endswith(".parquet"))
        dialect_ms = 0.0
        if args.trace:
            stmts = [READS[n] for n in ("point", "range_agg", "dialect")] + [READS["glob"].format(p="1")]
            per = []
            for s in stmts:
                t0 = time.perf_counter()
                for _ in range(200):
                    dialect.rewrite_double_quoted_identifiers(
                        dialect.rewrite_integer_literal_division(dialect.rewrite_sqlite_functions(s))
                    )
                per.append((time.perf_counter() - t0) * 1000 / 200)
            dialect_ms = median(per)
        proc.stdin.write("stop\n")
        proc.stdin.flush()
        final = _read_json_line(proc, 120)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        if proc.returncode not in (0, None):
            with open(os.path.join(work, "server.log")) as f:
                log.extend(f.read().splitlines()[-20:])

    samples = [s for s in loop.samples if s["t"] >= loop.measure_from]
    reads = [s for s in samples if s["class"] == "read"]
    writes = [s for s in samples if s["class"] == "write"]
    read_ms = [s["client_s"] * 1000 for s in reads]
    write_ms = [s["client_s"] * 1000 for s in writes]
    names = sorted({s["name"] for s in samples})
    per_template = {n: median([s["client_s"] for s in samples if s["name"] == n]) for n in names}
    read_tail, read_pct = tail(read_ms)
    write_tail, write_pct = tail(write_ms) if write_ms else (0.0, 0.0)

    def overhead_ms(route):
        xs = [(s["client_s"] - s["server_s"]) * 1000 for s in reads if s["route"] == route and s["ok"]]
        return median(xs) if xs else 0.0

    layer = {
        "http_api.overhead_ms": overhead_ms("http"),
        "wire.overhead_ms": overhead_ms("wire"),
        "engine.read_ms": median([s["server_s"] * 1000 for s in reads if s["ok"]]),
        "engine.write_ms": median([s["server_s"] * 1000 for s in writes if s["ok"]]) if writes else 0.0,
        "engine.dialect_rewrite_ms": dialect_ms,
        "engine.spark_executions_per_stmt": (final["executions"] - ready["executions"]) / max(1, len(loop.samples)),
        "engine.write_bytes_per_user_byte": loop.write_bytes / loop.user_bytes if loop.user_bytes else 0.0,
        "engine.table_files_end": table_files_end,
        "read_tail_ms": read_tail,
        "write_p50_ms": median(write_ms) if write_ms else 0.0,
        "write_tail_ms": write_tail,
        "spark.sched_floor_s": final.get("sched_floor_s", 0.0),
        "peak_rss_mb": rss.peak_bytes / 2 ** 20,
        # The writer's table scans are the only work tracing adds inside
        # the loop; the template measurements run after it.
        "trace.overhead_s": loop.scan_s,
    }
    templates = final.get("templates", [])
    if templates:
        layer["spark.exec_first_s"] = sum(t["first_s"] for t in templates)
        layer["spark.exec_warm_s"] = sum(t["warm_s"] for t in templates)
        for phase in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{phase}_ms"] = sum(t["phases_ms"].get(phase, 0.0) for t in templates)
        for key in templates[0]["ops"]:
            layer[key] = sum(t["ops"][key] for t in templates)
    log.extend(loop.failures)
    return {
        "attempted": len(loop.samples),
        "failed": len(loop.failures),
        "e2e": {
            "setup_s": median(ready["setup_samples_s"]),
            "e2e_total_s": sum(per_template.values()),
            "read_p50_ms": median(read_ms),
            "throughput_sps": len(samples) / loop_s,
        },
        "layer": layer,
        "record": {
            "setup_samples_s": ready["setup_samples_s"],
            "connections": n_conn,
            "warmup_s": WARMUP_S,
            "loop_s": loop_s,
            "read_tail_percentile": read_pct,
            "read_samples": len(read_ms),
            "write_tail_percentile": write_pct,
            "write_samples": len(write_ms),
            "per_template_median_s": per_template,
            "table_rows_end": table_rows_end,
            "table_cap": TABLE_CAP,
            "templates": templates,
            "template_measure_s": final.get("measure_s", 0.0),
            "statement_samples": samples,
            "statements": {n: sum(1 for s in samples if s["name"] == n) for n in names},
        },
    }


if __name__ == "__main__" and sys.argv[1:2] == ["serve"]:
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    sys.exit(serve(sys.argv[2:]))

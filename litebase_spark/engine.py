"""Engine — the service-level surface of the reference, Spark-first.

Maps litebase's query lifecycle (SURVEY §3.1) onto a SparkSession:

  * ``Engine.sql(statement, params)`` — parse/bind/execute/collect with a
    result envelope mirroring the reference's response shape
    (``changes``, ``row_count``, ``columns``, ``latency`` — reference:
    pkg/database/query_response.go:15-50).
  * Parameter binding — positional ``?`` and named ``:name`` over the five
    SQLite storage classes INTEGER/FLOAT/TEXT/BLOB/NULL (reference:
    pkg/sqlite3/statement.go:103-159), implemented with Spark's native
    parameterized ``spark.sql(sql, args=...)``.
  * Statement classification — read/write routing analog of the
    reference's prefix classifier (reference: pkg/database/query.go:46-102);
    here it only gates writes and feeds metrics, since Spark's driver is
    the single writer (the reference's write queue / primary forwarding —
    pkg/database/write_queue.go, resolver.go:205-262 — collapse to this).
  * Query metrics — per-statement-hash latency aggregation with
    count/avg/min/max/p50/p90/p99, the reference's telemetry shape
    (reference: pkg/logs/query_metric.go:14-28), queryable as a DataFrame.
    ``Engine.sql`` times each statement once on a monotonic clock and
    records it under the caller's text; percentiles come from a
    fixed log-scale histogram, so memory does not grow with traffic.
  * Storage — one writer: every SQL write (autocommit DML, a
    transaction's COMMIT, the foreachBatch upsert sink) commits a
    version of the Engine's ``snapshots.VersionedStore``, and each table
    the Engine creates is an EXTERNAL catalog table located at its head
    version. Snapshots, branches, restore and ``VERSION AS OF`` read
    those versions (reference: every write is a WAL version,
    pkg/backups). Databases are namespaces of the session catalog
    (reference: pkg/database/system_database.go:98-131).
"""

from __future__ import annotations

import bisect
import contextlib
import io
import json
import math
import os
import re
import shutil
import threading
import time
import uuid
import zlib
from dataclasses import dataclass
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Row, SparkSession

from litebase_spark.catalog import register_views
from litebase_spark.functions.dialect import (
    quote_ident,
    sub_outside_literals,
    to_spark_sql,
    top_level_search,
)
from litebase_spark.session import get_spark
from litebase_spark.snapshots import StagedVersion, VersionedStore

# Statement-prefix classes, mirroring reference pkg/database/query.go:46-102
# (IsDDL/IsDML/IsDQL/IsPragma/IsVacuum/IsBegin/IsCommit/IsRollback).
_DDL_PREFIXES = (
    "CREATE", "ALTER", "DROP", "TRUNCATE", "REPLACE", "ATTACH", "DETACH",
)
_DML_PREFIXES = ("INSERT", "UPDATE", "DELETE", "MERGE", "REPLACE")
_DQL_PREFIXES = ("SELECT", "WITH", "VALUES", "TABLE", "DESCRIBE", "SHOW", "EXPLAIN")
_TCL_PREFIXES = ("BEGIN", "COMMIT", "END", "ROLLBACK", "SAVEPOINT", "RELEASE")


def classify_statement(sql: str) -> str:
    """Classify a statement DDL/DML/DQL/PRAGMA/VACUUM/TCL/OTHER (analog of
    reference pkg/database/query.go:46-102 prefix classification, which
    routes reads vs writes and gates PRAGMA/VACUUM)."""
    head = sql.lstrip().split(None, 2)
    kw = head[0].upper() if head else ""
    if kw == "REPLACE":
        # REPLACE INTO is SQLite DML (alias of INSERT OR REPLACE);
        # REPLACE TABLE stays DDL
        second = head[1].upper() if len(head) > 1 else ""
        return "DML" if second == "INTO" else "DDL"
    if kw in _DDL_PREFIXES:
        return "DDL"
    if kw in _DML_PREFIXES:
        return "DML"
    if kw in _DQL_PREFIXES:
        return "DQL"
    if kw == "PRAGMA":
        return "PRAGMA"
    if kw == "VACUUM":
        return "VACUUM"
    if kw in _TCL_PREFIXES:
        return "TCL"
    if kw in ("ANALYZE", "REINDEX"):
        return "MAINT"
    return "OTHER"


def is_write(sql: str) -> bool:
    return classify_statement(sql) in ("DDL", "DML")


@dataclass
class QueryResult:
    """Result envelope mirroring reference pkg/database/query_response.go:15-50."""

    columns: list[str]
    rows: list[Row]
    row_count: int
    changes: int
    latency: float
    statement_class: str

    def __iter__(self):
        return iter(self.rows)


# Latency histogram geometry: bucket i holds latencies in
# [_HIST_FLOOR_S * LATENCY_BUCKET_RATIO**i, ... **(i + 1)), and a
# percentile read from a bucket is its geometric midpoint, so between
# 1 µs and the top bucket (~28 h) it is within LATENCY_RELATIVE_ERROR of
# the exact sample. Latencies outside that span land in the end buckets;
# min/max stay exact and every percentile is clamped to them.
LATENCY_BUCKET_RATIO = 1.02
LATENCY_RELATIVE_ERROR = math.sqrt(LATENCY_BUCKET_RATIO) - 1
_HIST_FLOOR_S = 1e-6
_HIST_BUCKETS = int(math.log(1e5 / _HIST_FLOOR_S)
                    / math.log(LATENCY_BUCKET_RATIO)) + 1
# upper edges of buckets 0 .. _HIST_BUCKETS - 2 (bisect finds the bucket)
_HIST_EDGES = [_HIST_FLOOR_S * LATENCY_BUCKET_RATIO ** i
               for i in range(1, _HIST_BUCKETS)]

# The time-bucketed query log keeps this many of the newest buckets (one
# hour of minute buckets): a server that never flushes stays bounded. A
# sample stamped behind that window (an explicit `ts`) keeps its bucket
# until the log next reaches a new minute.
QUERY_LOG_BUCKETS = 60


class _LatencyAccumulator:
    """count/total/min/max and a sparse log-scale histogram for one
    statement (hash): O(1) memory however many samples it takes, the
    role of the reference's fixed 64-byte metric record."""

    __slots__ = ("statement_hash", "statement", "count", "total",
                 "vmin", "vmax", "hist")

    def __init__(self, statement_hash: int, statement: str) -> None:
        self.statement_hash = statement_hash
        self.statement = statement
        self.count = 0
        self.total = 0.0
        self.vmin = math.inf
        self.vmax = 0.0
        self.hist: dict[int, int] = {}  # bucket index -> samples

    def add(self, latency: float) -> None:
        self.count += 1
        self.total += latency
        if latency < self.vmin:
            self.vmin = latency
        if latency > self.vmax:
            self.vmax = latency
        i = bisect.bisect_right(_HIST_EDGES, latency)
        self.hist[i] = self.hist.get(i, 0) + 1

    def row(self) -> dict[str, Any]:
        # nearest-rank percentiles (0-based rank int(p * count)), read
        # off the histogram in one ascending pass
        ranks = [min(self.count - 1, int(p * self.count))
                 for p in (0.50, 0.90, 0.99)]
        pcts, seen = [], 0
        for i in sorted(self.hist):
            seen += self.hist[i]
            mid = _HIST_FLOOR_S * LATENCY_BUCKET_RATIO ** (i + 0.5)
            while len(pcts) < len(ranks) and seen > ranks[len(pcts)]:
                pcts.append(min(self.vmax, max(self.vmin, mid)))
        return {
            "statement_hash": self.statement_hash,
            "statement": self.statement,
            "count": self.count,
            "avg": self.total / self.count,
            "min": self.vmin,
            "max": self.vmax,
            "p50": pcts[0],
            "p90": pcts[1],
            "p99": pcts[2],
        }


class QueryMetrics:
    """Per-statement-hash latency telemetry (reference
    pkg/logs/query_metric.go:14-46 keeps count/avg/min/max/p50/p90/p99 in
    64-byte records keyed by statement hash). Each statement, overall and
    per minute bucket, is one ``_LatencyAccumulator``: recording costs
    O(1) memory, and p50/p90/p99 come from its log-scale histogram,
    within ``LATENCY_RELATIVE_ERROR`` of the exact percentiles."""

    BUCKET_SECONDS = 60  # reference flushes per-second buckets every 5s;
    # minute grain fits the driver-side read pattern

    def __init__(self) -> None:
        # server handler threads record concurrently; flush re-enters
        self._lock = threading.RLock()
        self._acc: dict[int, _LatencyAccumulator] = {}
        # time-bucketed log: bucket_ts -> statement_hash -> accumulator
        # (reference pkg/logs/query_log.go keeps queue[time][checksum]),
        # holding the newest QUERY_LOG_BUCKETS buckets
        self._buckets: dict[int, dict[int, _LatencyAccumulator]] = {}

    @staticmethod
    def statement_hash(sql: str) -> int:
        # CRC32 statement keying, like the reference's statement cache key
        # (reference: pkg/database/database_connection.go:726-756).
        return zlib.crc32(sql.encode())

    def record(self, sql: str, latency: float, ts: float | None = None) -> None:
        h = self.statement_hash(sql)
        bucket = int((ts if ts is not None else time.time())
                     // self.BUCKET_SECONDS) * self.BUCKET_SECONDS
        with self._lock:
            per_bucket = self._buckets.get(bucket)
            if per_bucket is None:
                if bucket > max(self._buckets, default=bucket - 1):
                    # a new newest bucket: drop those too far behind it
                    horizon = bucket - QUERY_LOG_BUCKETS * self.BUCKET_SECONDS
                    for old in [b for b in self._buckets if b <= horizon]:
                        del self._buckets[old]
                per_bucket = self._buckets[bucket] = {}
            for accs in (self._acc, per_bucket):
                acc = accs.get(h)
                if acc is None:
                    acc = accs[h] = _LatencyAccumulator(h, sql)
                acc.add(latency)

    def total_count(self) -> int:
        """Statements recorded so far, over every statement hash."""
        with self._lock:
            return sum(a.count for a in self._acc.values())

    def snapshot(self) -> list[dict[str, Any]]:
        with self._lock:
            return [a.row() for _, a in sorted(self._acc.items())]

    def to_df(self, spark: SparkSession) -> DataFrame:
        snap = self.snapshot()
        schema = (
            "statement_hash long, statement string, count long, avg double,"
            " min double, max double, p50 double, p90 double, p99 double"
        )
        return spark.createDataFrame(snap, schema=schema)

    # -- time-bucketed query log (reference pkg/logs/query_log.go) ----------

    def log_entries(
        self, start: float | None = None, end: float | None = None
    ) -> list[dict[str, Any]]:
        """Per-(time-bucket, statement) metric rows, optionally windowed
        — the reference's GET .../metrics/query with from/to filtering
        over the flushed query log (pkg/logs/query_log.go)."""
        out = []
        with self._lock:
            for bucket in sorted(self._buckets):
                if start is not None and bucket + self.BUCKET_SECONDS <= start:
                    continue
                if end is not None and bucket > end:
                    continue
                for _, a in sorted(self._buckets[bucket].items()):
                    out.append({"bucket_ts": bucket, **a.row()})
        return out

    def flush(self, path: str) -> int:
        """Append the bucketed log to a JSON-lines file and clear the
        in-memory queue (the reference's 5-second flush of closed
        buckets to tiered storage). Returns rows flushed."""
        with self._lock:
            rows = self.log_entries()
            if rows:
                with open(path, "a") as f:
                    for r in rows:
                        f.write(json.dumps(r) + "\n")
            self._buckets.clear()
        return len(rows)

    @staticmethod
    def read_log(spark: SparkSession, path: str) -> DataFrame:
        """Flushed query-log readback as a DataFrame (distributed read —
        at scale the log lands on shared storage and this is a plain
        spark.read.json over partitioned files)."""
        schema = (
            "bucket_ts long, statement_hash long, statement string,"
            " count long, avg double, min double, max double,"
            " p50 double, p90 double, p99 double"
        )
        return spark.read.schema(schema).json(path)


# -- DML plans (Engine._plan_dml / Engine._run_dml) -------------------------

_IDENT = r"(?:`[^`]+`|[A-Za-z_]\w*)"


def _bare(name: str) -> str:
    """An identifier without its quoting backticks."""
    name = name.strip()
    if len(name) > 1 and name[0] == name[-1] == "`":
        return name[1:-1].replace("``", "`")
    return name


def _alias(table: str) -> str:
    """The name a statement's own clauses use for its target table:
    the last part of a qualified name."""
    return re.findall(_IDENT, table)[-1]


def _flag(cond: str | None) -> str:
    """1 where the WHERE clause is true, else 0: a NULL predicate selects
    nothing, as in SQLite."""
    return f"CAST(coalesce(({cond}), false) AS INT)" if cond else "1"


def _cut(text: str, keyword: re.Pattern) -> tuple[str, str | None]:
    """text split around its first top-level `keyword` (outside literals
    and parentheses); (text, None) without one."""
    m = top_level_search(keyword, text)
    return (text, None) if m is None else (text[:m.start()], text[m.end():])


def _store(expr: str, col: str, dtype: str) -> str:
    """`expr` as a value of a column's type. A value the type cannot hold
    raises, as Spark's ANSI store assignment does for a native INSERT; a
    plain CAST would wrap or NULL it, since the session runs with
    spark.sql.ansi.enabled=false. A numeric string stores as its number,
    as under SQLite's column affinity."""
    where = re.sub(r"['\\]", "", f" in column {col} of type {dtype}")
    return (
        f"coalesce(try_cast(({expr}) AS {dtype}), if(({expr}) IS NULL, NULL, "
        f"raise_error(concat('cannot store ', CAST(({expr}) AS STRING), "
        f"'{where}'))))"
    )


def _sql_str(text: str) -> str:
    """`text` as a Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _local_root(uri: str, default_fs: str | None) -> str:
    """The driver-local path of a store root. The store lists and moves
    its files with os calls while Spark writes them through Hadoop, so
    both must reach the same disk: a root on another filesystem (an
    hdfs:// or s3a:// warehouse, or a bare path under such an
    fs.defaultFS) is refused."""
    url = urlparse(uri)
    if (url.scheme or urlparse(default_fs or "file:///").scheme) != "file":
        raise ValueError(f"store root {uri!r} is not on the local filesystem"
                         f" (fs.defaultFS={default_fs}); pass a local "
                         "store_root or a file: warehouse")
    return url.path if url.scheme else uri


def _rewrite_excluded(expr: str) -> str:
    """`excluded.col` (the proposed insert row, SQLite upsert scope) ->
    the join's `__exc_col` column."""
    return re.sub(
        r"(?i)\bexcluded\s*\.\s*(`[^`]+`|\w+)",
        lambda m: quote_ident("__exc_" + _bare(m.group(1))),
        expr,
    )


@dataclass
class _DmlPlan:
    """One planned DML statement. `rows` has the target's columns plus
    `__changed`, the number of changes a row accounts for (changes() is
    their sum). An append's rows are new rows; a rewrite's rows are the
    table's whole new image, minus the changed rows when `drop_changed`
    (DELETE). A statement that changes no row commits no version, unless
    it `replaces` the table's rows (INSERT OVERWRITE)."""

    table: str
    event: str  # INSERT | UPDATE | DELETE: the trigger event
    rows: DataFrame
    append: bool
    # the target's columns with their metadata (a column's DEFAULT), which
    # a CASE projection drops and the written image must keep
    fields: list
    drop_changed: bool = False
    replaces: bool = False


class Engine:
    """Session + catalog + query dispatch (reference resolver analog,
    SURVEY §2.A rows A2/A3/A6/A22)."""

    PREPARED_CACHE_CAP = 256  # LFU-evicted (pkg/cache/lfu_cache.go role)

    def __init__(
        self,
        spark: SparkSession | None = None,
        store_root: str | None = None,
    ) -> None:
        self.spark = spark or get_spark()
        self.metrics = QueryMetrics()
        self._plan_cache: dict[int, DataFrame] = {}
        self._plan_freq: dict[int, int] = {}
        self._transactions: dict[str, "Transaction"] = {}
        self._autotxn: "Transaction | None" = None
        # the one writer of table data; tables of the session's database
        # are its "main" namespace
        self.store = VersionedStore(self.spark, _local_root(
            store_root or self.spark.conf.get("spark.sql.warehouse.dir"),
            self.spark.sparkContext._jsc.hadoopConfiguration().get(
                "fs.defaultFS")))
        # declared PRIMARY KEYs (parsed from CREATE TABLE or declared
        # explicitly) — the conflict target for INSERT OR REPLACE/IGNORE
        # and bare ON CONFLICT, like SQLite's rowid/unique machinery
        self._primary_keys: dict[str, list[str]] = {}
        # declared secondary indexes (CREATE INDEX): metadata-only, like
        # the PRIMARY KEY registry — Parquet min/max stats + partition/
        # Z-order layout are the physical analog (SURVEY §2.B row 2), so
        # an index declaration records intent and feeds introspection
        # (PRAGMA index_list/index_info, sqlite_master, sqlite_stat1).
        self._indexes: dict[str, dict] = {}
        # statement-level AFTER triggers (SQLite DDL family
        # SQLITE_CREATE_TRIGGER/SQLITE_DROP_TRIGGER, reference
        # pkg/sqlite3/constants.go:74-77): trigger name -> {event,
        # table, body statements, original sql}. Semantics: the body
        # runs once AFTER a DML statement of the matching kind touches
        # the table (the foreachBatch/CDF per-commit hook shape, not
        # SQLite's per-row NEW/OLD form — set-based engines maintain
        # derived state by re-running a statement over the base table).
        # Non-recursive, like SQLite's default recursive_triggers=off.
        self._triggers: dict[str, dict] = {}
        self._in_trigger = False
        # connection-scope counters behind SQLite's changes() /
        # total_changes() functions (sqlite.org/lang_corefunc.html)
        self._last_changes = 0
        self._total_changes = 0

    # -- query dispatch (A2/A3) --------------------------------------------

    def sql(
        self,
        statement: str,
        params: list | dict | None = None,
        collect: bool = True,
        transaction_id: str | None = None,
        timeout: float | None = None,
    ) -> QueryResult:
        """Execute a statement with optional positional/named parameters.

        Positional ``?`` placeholders are rewritten to named placeholders
        and bound via Spark's parameterized SQL — the engine-side analog of
        the reference's typed bind (pkg/sqlite3/statement.go:87-167).
        ``transaction_id`` routes the statement into an open interactive
        transaction, mirroring the wire model's per-query transaction_id
        (reference: pkg/database/query_input.go:28-32, routing
        pkg/http/query_controller.go:94-120). ``timeout`` (seconds) is
        the statement-level analog of the reference's busy_timeout
        (pkg/database/database_connection.go:52, 5000 ms): the
        statement's Spark jobs run under a dedicated job group that a
        watchdog timer cancels, surfacing TimeoutError.

        This is where a statement is timed and recorded into
        ``metrics``, once, under the caller's text — the reference
        stamps latency once in its resolver (pkg/database/
        resolver.go:136). The routes below return untimed results.
        """
        stop = self._start_timer(statement)
        if transaction_id is not None:
            txn = self._transactions.get(transaction_id)
            if txn is None:
                raise LookupError(f"no open transaction {transaction_id!r}")
            res = txn._execute(statement, params)
        elif timeout is not None:
            res = self._execute_with_timeout(statement, params, collect, timeout)
        else:
            res = self._execute(statement, params, collect)
        return stop(res)

    def stream(self, statement: str, params: list | dict | None = None) -> QueryResult:
        """Lazy read for the NDJSON stream route: ``rows`` iterates the
        DataFrame through ``toLocalIterator`` (one partition at a time,
        prefetching the next), and ``row_count``/``latency`` are stamped
        and the statement recorded when the caller exhausts it — so the
        timed span covers the caller's consumption, as a collect's
        would."""
        stop = self._start_timer(statement)
        df = self.df(statement, params)
        res = QueryResult(list(df.columns), [], 0, 0, 0.0,
                          classify_statement(statement))

        def rows():
            for row in df.toLocalIterator(prefetchPartitions=True):
                res.row_count += 1
                yield row
            stop(res)

        res.rows = rows()
        return res

    def _start_timer(self, statement: str):
        """Start timing ``statement`` on the monotonic clock; the returned
        function stamps a result's latency and records the statement into
        ``metrics`` — the one record site."""
        t0 = time.perf_counter()

        def stop(res: QueryResult) -> QueryResult:
            res.latency = time.perf_counter() - t0
            self.metrics.record(statement, res.latency)
            return res

        return stop

    def _execute(self, statement: str, params, collect: bool = True) -> QueryResult:
        stmt_class = classify_statement(statement)
        if stmt_class == "VACUUM":
            # Reference rejects VACUUM from the query API (needs drained
            # connections — pkg/database/resolver.go:100-103); here
            # compaction and file deletion are maintenance calls too.
            raise ValueError(
                "VACUUM is not allowed through the query API; use "
                "Engine.optimize to compact a table and "
                "VersionedStore.vacuum to delete unreferenced files"
            )
        eqp = re.match(r"(?is)^\s*EXPLAIN\s+QUERY\s+PLAN\s+(.+)$", statement)
        if eqp:
            # SQLite EXPLAIN QUERY PLAN dialect (sqlite.org/eqp.html):
            # (id, parent, notused, detail) rows over the Catalyst plan
            rows = [
                Row(id=i, parent=p, notused=n, detail=d)
                for i, p, n, d in self.explain_query_plan(eqp.group(1))
            ]
            return QueryResult(["id", "parent", "notused", "detail"],
                               rows, len(rows), 0, 0.0, "DQL")
        if stmt_class == "PRAGMA":
            return self._run_pragma(statement)
        if stmt_class == "MAINT":
            return self._run_maintenance(statement)
        if stmt_class == "TCL":
            return self._run_tcl(statement, None)
        if self._autotxn is not None and stmt_class == "DML":
            # SQL-level BEGIN routes subsequent writes into the open
            # transaction (interactive-shell semantics, reference
            # pkg/cli/cmd/sql.go / transaction routing
            # pkg/http/query_controller.go:94-120).
            return self._autotxn._execute(statement, params)
        sql_text, args = self._translate(statement, params)
        if stmt_class == "DDL":
            # a trigger keeps the caller's text; its body is translated
            # each time it runs
            res = (self._try_attach_ddl(sql_text)
                   or self._try_trigger_ddl(statement)
                   or self._try_index_ddl(sql_text))
            if res is not None:
                return res
            # CREATE TABLE ... PRIMARY KEY: record the key (conflict target
            # for upserts) and strip the constraint Spark's parser rejects.
            sql_text = self._register_primary_key(sql_text)
            res = self._try_table_ddl(sql_text, args)
            if res is not None:
                return res
        if stmt_class == "DML":
            return self._run_dml(sql_text, args, None)
        if re.search(r"(?i)\bsqlite_master\b", sql_text):
            self._refresh_sqlite_master()
        df = self.spark.sql(sql_text, args=args) if args else self.spark.sql(sql_text)
        rows = df.collect()  # DDL/DML execute eagerly here
        if not (collect and stmt_class in ("DQL", "OTHER")):
            rows = []
        return QueryResult(list(df.columns), rows, len(rows), 0, 0.0,
                           stmt_class)

    def _execute_with_timeout(
        self,
        statement: str,
        params,
        collect: bool,
        timeout: float,
    ) -> QueryResult:
        """Run the statement inside a cancellable job group with a
        watchdog timer — cancellation interrupts the statement's Spark
        jobs only (other sessions/statements are untouched), and the
        caller sees TimeoutError, like a busy_timeout expiry."""
        sc = self.spark.sparkContext
        group = f"litebase-stmt-{uuid.uuid4().hex[:12]}"
        fired = threading.Event()

        def _cancel():
            fired.set()
            sc.cancelJobGroup(group)

        sc.setJobGroup(group, statement[:80], interruptOnCancel=True)
        timer = threading.Timer(timeout, _cancel)
        timer.start()
        try:
            return self._execute(statement, params, collect)
        except Exception:
            if fired.is_set():
                raise TimeoutError(
                    f"statement exceeded {timeout}s and was cancelled "
                    f"(job group {group})"
                ) from None
            raise
        finally:
            timer.cancel()
            sc.setJobGroup("", "", False)

    def df(self, statement: str, params: list | dict | None = None) -> DataFrame:
        """Lazy variant: return the DataFrame without collecting."""
        sql_text, args = self._translate(statement, params)
        return self.spark.sql(sql_text, args=args) if args else self.spark.sql(sql_text)

    def _translate(self, statement: str, params) -> tuple[str, dict | None]:
        """Bind parameters, resolve time travel, then translate the
        SQLite dialect to Spark SQL (functions/dialect.py)."""
        sql_text, args = self._bind(statement, params)
        sql_text = to_spark_sql(
            self._rewrite_time_travel(sql_text),
            self._last_changes,
            self._total_changes,
        )
        return sql_text, args

    # -- time travel over the store (A21 SQL surface) -----------------------
    #
    # `FROM t VERSION AS OF n` / `TIMESTAMP AS OF '<ts>'` (the Delta/Iceberg
    # time-travel dialect) resolve to a version's pinned, immutable file
    # list, zero-copy (reference PITR timeline: pkg/backups/restore.go
    # resolves the log covering the point).

    _TIME_TRAVEL_RE = re.compile(
        r"(?is)'|\b(\w+)\s+(?:VERSION\s+AS\s+OF\s+(\d+)"
        r"|TIMESTAMP\s+AS\s+OF\s+'([^']+)')"
    )

    def _rewrite_time_travel(self, sql_text: str) -> str:
        """Each `t VERSION AS OF n` / `t TIMESTAMP AS OF '<ts>'` outside
        string literals -> a temp view over that version of t."""

        def pin(m):
            import datetime as _dt

            table, version, raw = m.groups()
            if raw is None:
                version = int(version)
            else:
                try:
                    ts = float(raw)
                except ValueError:
                    ts = _dt.datetime.fromisoformat(raw).timestamp()
                version = self.store.version_at(table.lower(), ts)
            view = f"__tt_{table}_v{version}"
            self.store.read(table.lower(), version).createOrReplaceTempView(view)
            return view

        return sub_outside_literals(self._TIME_TRAVEL_RE, pin, sql_text)

    def sql_batch(self, statements: list[str | tuple]) -> list[QueryResult]:
        """Execute N statements sequentially in one call (batch query
        endpoint analog — reference POST …/query accepts {queries:[…]},
        pkg/http/query_controller.go:11-141). Each item is a statement or
        a (statement, params) tuple."""
        out = []
        for item in statements:
            stmt, params = item if isinstance(item, tuple) else (item, None)
            out.append(self.sql(stmt, params))
        return out

    def prepared(self, statement: str) -> DataFrame:
        """Statement-cache analog (A6): analyzed-plan reuse keyed by
        CRC32(SQL), like the reference's per-connection prepared cache
        (reference: pkg/database/database_connection.go:726-756).
        Catalyst already caches plan fragments; this keeps the PYTHON-side
        DataFrame (parse+analyze done once) for repeated execution.
        Read-only statements only — DML/DDL must re-resolve tables.
        Bounded with LFU eviction (reference pkg/cache/lfu_cache.go backs
        the same role): at capacity the least-frequently-used statement
        is dropped, so hot statements survive churn."""
        if classify_statement(statement) != "DQL":
            raise ValueError("prepared() caches read statements only")
        h = QueryMetrics.statement_hash(statement)
        df = self._plan_cache.get(h)
        if df is None:
            if len(self._plan_cache) >= self.PREPARED_CACHE_CAP:
                coldest = min(self._plan_freq, key=lambda k: self._plan_freq[k])
                self._plan_cache.pop(coldest, None)
                self._plan_freq.pop(coldest, None)
            sql_text = self._translate(statement, None)[0]
            df = self._plan_cache[h] = self.spark.sql(sql_text)
            self._plan_freq[h] = 0
        self._plan_freq[h] = self._plan_freq.get(h, 0) + 1
        return df

    def explain_query_plan(self, statement: str) -> list[tuple]:
        """SQLite ``EXPLAIN QUERY PLAN`` dialect: rows of
        (id, parent, notused, detail) — here the detail lines are the
        physical-plan tree of the Catalyst plan, one operator per row,
        parent derived from tree indentation (sqlite.org/eqp.html shape
        over a Spark plan)."""
        tree = self.explain(statement, mode="simple")
        rows, stack = [], []  # stack of (indent, id)
        next_id = 1
        for line in tree.splitlines():
            m = re.match(r"^([ :+|*-]*)(\(?\d*\)?\s*)?([A-Za-z].*)$", line)
            if not m or not m.group(3).strip():
                continue
            if m.group(3).startswith("== "):
                continue
            indent = len(m.group(1))
            while stack and stack[-1][0] >= indent:
                stack.pop()
            parent = stack[-1][1] if stack else 0
            rows.append((next_id, parent, 0, m.group(3).strip()))
            stack.append((indent, next_id))
            next_id += 1
        return rows

    def explain(self, statement: str, mode: str = "formatted") -> str:
        """EXPLAIN pass-through (PRAGMA-analog introspection, M3/A13)."""
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.spark.sql(self._translate(statement, None)[0]).explain(mode=mode)
        return buf.getvalue()

    def describe(self, table: str) -> list[Row]:
        """DESCRIBE analog of the reference's introspection pragmas
        (table_info etc. — allowlist pkg/auth/pragma_list.go:3)."""
        return self.spark.sql(f"DESCRIBE TABLE {table}").collect()

    def dataset_card(self, table: str, **columns) -> DataFrame:
        """Datasheet rollup for a registered corpus table — the ops-parity
        analog of PRAGMA-style introspection for training-data tables
        (doc/char/token volume, language profile, exact-dupe count per
        source; one corpus scan). Column roles default to the documents
        schema; override via source_col/lang_col/text_col/chars_col."""
        from litebase_spark.operators.pipeline import dataset_card

        return dataset_card(self.spark.table(table), **columns)

    def compaction_plan(self, table: str, **options) -> DataFrame:
        """OPTIMIZE planning for a registered table: greedy bin packing
        of the (synthesized) file manifest into target-size output bins.
        Metadata-only — plans, never rewrites; the rewrite itself is
        `Engine.optimize` (the VACUUM analog, A11)."""
        from litebase_spark.operators.pipeline import compaction_plan

        return compaction_plan(self.spark.table(table), **options)

    def drift_report(
        self,
        table: str,
        value_col: str = "value",
        ts_col: str = "ts",
        split: str | None = None,
        cols: str | list[str] | None = None,
    ) -> DataFrame:
        """Fused distribution-drift report for a registered table: PSI,
        Jensen-Shannon, KS D, and 1-Wasserstein between the rows before
        and after `split` (on `ts_col`; default = the table's median
        timestamp — no fixture date baked in), over `value_col` — the
        nightly pipeline health gate as ONE corpus scan (the four
        standalone stats operators would cost four). An unparseable
        split or an empty half raises (HTTP surfaces it as a 400).

        `cols` switches to the MULTI-column report (one row per
        column, still one corpus scan): a list, a comma-separated
        string (the HTTP form, ?cols=a,b), or '*' for every numeric
        column of the table. Served at /tables/{t}/drift-report."""
        from litebase_spark.operators.relational import (
            drift_report,
            drift_report_multi,
        )

        df = self.spark.table(table)
        if cols is not None:
            if isinstance(cols, str):
                cols = (
                    [c for c, t in df.dtypes
                     if t in ("double", "float", "bigint", "int",
                              "smallint", "tinyint")
                     or t.startswith("decimal")]
                    if cols == "*"
                    else [c.strip() for c in cols.split(",") if c.strip()]
                )
            if not cols:
                raise ValueError(
                    f"drift_report: no numeric columns resolved on "
                    f"{table!r}"
                )
            return drift_report_multi(
                df, value_cols=cols, ts_col=ts_col, split=split
            )
        return drift_report(
            df, value_col=value_col, ts_col=ts_col, split=split
        )

    _TRIGGER_CREATE_RE = re.compile(
        r"(?is)^\s*CREATE\s+TRIGGER\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_][\w]*)\s+AFTER\s+(INSERT|UPDATE|DELETE)\s+ON\s+"
        r"([A-Za-z_][\w.]*)\s+(?:FOR\s+EACH\s+STATEMENT\s+)?BEGIN\s+"
        # greedy body + anchored terminal END: a CASE ... END inside the
        # body must not terminate the trigger early
        r"(.*)\s*;?\s*END\s*;?\s*$"
    )
    _TRIGGER_DROP_RE = re.compile(
        r"(?is)^\s*DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w]*)\s*$"
    )

    _ATTACH_RE = re.compile(
        r"(?is)^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'\s+AS\s+"
        r"([A-Za-z_]\w*)\s*$"
    )
    _DETACH_RE = re.compile(
        r"(?is)^\s*DETACH\s+(?:DATABASE\s+)?([A-Za-z_]\w*)\s*$"
    )

    def _try_attach_ddl(self, sql_text: str) -> QueryResult | None:
        """ATTACH DATABASE '<dir>' AS alias / DETACH alias (SQLite
        authorizer codes SQLITE_ATTACH/SQLITE_DETACH,
        pkg/sqlite3/constants.go:84-85). A database here is a directory
        of parquet tables (<dir>/<table>.parquet — the engine's storage
        model); ATTACH maps it to a Spark catalog namespace of EXTERNAL
        tables, so `SELECT ... FROM alias.t JOIN main_table ...` — the
        cross-database query ATTACH exists for — runs natively through
        one Catalyst plan. DETACH drops only the namespace metadata;
        external tables never delete their files, matching SQLite's
        detach-leaves-the-file semantics."""
        m = self._ATTACH_RE.match(sql_text)
        if m:
            path, alias = m.group(1), m.group(2)
            if not os.path.isdir(path):
                raise ValueError(f"ATTACH: no such directory: {path}")
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {quote_ident(alias)}")
            for fn in sorted(os.listdir(path)):
                if not fn.endswith(".parquet"):
                    continue
                tname = fn[: -len(".parquet")]
                # directory contents are untrusted input to this SQL
                # text: quote the LOCATION literal and the identifier so
                # a filename like "x'.parquet" can't break out of either
                self.spark.sql(
                    f"CREATE TABLE IF NOT EXISTS "
                    f"{quote_ident(alias)}.{quote_ident(tname)} "
                    f"USING PARQUET LOCATION {_sql_str(f'{path}/{fn}')}"
                )
            return QueryResult([], [], 0, 0, 0.0, "DDL")
        m = self._DETACH_RE.match(sql_text)
        if m:
            alias = m.group(1)
            dbs = {d.name for d in self.spark.catalog.listDatabases()}
            if alias not in dbs:
                raise ValueError(f"no such database: {alias}")
            self.spark.sql(f"DROP DATABASE {quote_ident(alias)} CASCADE")
            return QueryResult([], [], 0, 0, 0.0, "DDL")
        return None

    def _try_trigger_ddl(self, statement: str) -> QueryResult | None:
        """CREATE/DROP TRIGGER (reference authorizer DDL codes
        SQLITE_CREATE_TRIGGER/SQLITE_DROP_TRIGGER,
        pkg/sqlite3/constants.go:74-77). Statement-level AFTER triggers:
        the body (one or more ';'-separated statements) re-runs once
        after each matching DML commit — the foreachBatch/CDF analog of
        SQLite's row triggers. Row-level NEW/OLD references are out of
        scope (documented: derived state is maintained by re-derivation
        from the base table, the set-based idiom)."""
        m = self._TRIGGER_CREATE_RE.match(statement)
        if m:
            name, event, table, body = m.groups()
            stmts = [s.strip() for s in body.split(";") if s.strip()]
            if re.search(r"(?i)\bIF\s+NOT\s+EXISTS\b", statement) and (
                name in self._triggers
            ):
                pass
            elif not stmts:
                raise ValueError(f"trigger {name}: empty body")
            else:
                self._triggers[name] = {
                    "event": event.upper(),
                    "table": table.split(".")[-1].lower(),
                    "statements": stmts,
                    "sql": statement.strip(),
                }
            return QueryResult([], [], 0, 0, 0.0, "DDL")
        m = self._TRIGGER_DROP_RE.match(statement)
        if m:
            if_exists, name = m.group(1), m.group(2)
            if name not in self._triggers and not if_exists:
                raise ValueError(f"no such trigger: {name}")
            self._triggers.pop(name, None)
            return QueryResult([], [], 0, 0, 0.0, "DDL")
        return None

    def _fire_triggers(self, table: str, event: str, changes: int) -> None:
        """Run matching AFTER triggers once per committed DML statement.
        Non-recursive (a trigger body's own DML never re-fires triggers,
        SQLite's recursive_triggers=off default); a statement that
        touched no rows fires nothing, matching SQLite's per-affected-row
        firing collapsing to zero."""
        if self._in_trigger or not self._triggers or changes == 0:
            return
        table = _bare(_alias(table)).lower()
        self._in_trigger = True
        try:
            for name in sorted(self._triggers):
                trg = self._triggers[name]
                if trg["table"] == table and trg["event"] == event:
                    for stmt in trg["statements"]:
                        self.sql(stmt)
        finally:
            self._in_trigger = False

    def _try_index_ddl(self, sql_text: str) -> QueryResult | None:
        """CREATE INDEX / DROP INDEX as metadata DDL (SQLite surface the
        reference inherits wholesale). Spark has no secondary indexes —
        Parquet min/max footers, partition pruning and the Z-order
        layout path (operators/layout.py) are the physical equivalent —
        so the declaration is recorded, surfaced through PRAGMA
        index_list/index_info, sqlite_master and sqlite_stat1, and
        DROPped symmetrically. Returns None when the statement is not
        index DDL."""
        m = re.match(
            r"(?is)^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([A-Za-z_][\w]*)\s+ON\s+([A-Za-z_][\w.]*)\s*\(([^)]*)\)\s*;?\s*$",
            sql_text,
        )
        if m:
            uniq, if_not, name, table, cols = m.groups()
            if name in self._indexes:
                if if_not:
                    return QueryResult([], [], 0, 0, 0.0, "DDL")
                raise ValueError(f"index {name} already exists")
            self._indexes[name] = {
                "table": table,
                "cols": [c.strip() for c in cols.split(",") if c.strip()],
                "unique": bool(uniq),
                "sql": sql_text.strip().rstrip(";"),
            }
            return QueryResult([], [], 0, 0, 0.0, "DDL")
        m = re.match(
            r"(?is)^\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?"
            r"([A-Za-z_][\w]*)\s*;?\s*$",
            sql_text,
        )
        if m:
            if_exists, name = m.groups()
            if name not in self._indexes and not if_exists:
                raise ValueError(f"no such index: {name}")
            self._indexes.pop(name, None)
            return QueryResult([], [], 0, 0, 0.0, "DDL")
        return None

    def _refresh_sqlite_master(self) -> None:
        """Materialize the ``sqlite_master`` schema table
        (sqlite.org/schematab.html) as a temp view over the live Spark
        catalog, so ``SELECT * FROM sqlite_master`` works through the
        query API exactly as it does against the reference (every SQLite
        client introspects this way). Columns match SQLite:
        (type, name, tbl_name, rootpage, sql); ``sql`` is reconstructed
        from the Spark schema, with the declared PRIMARY KEY (upsert
        conflict-target registry) folded back in. Rebuilt lazily on
        each statement that references it — O(catalog), no data scan."""
        rows = []
        page = 2  # SQLite roots user tables at page >= 2; views are 0
        for t in self.spark.catalog.listTables():
            # Spark reports temp views as TEMPORARY; both are views in
            # sqlite_master terms (SQLite keeps temp objects in
            # sqlite_temp_master — folded in here, single-session engine).
            is_view = t.tableType in ("VIEW", "TEMPORARY")
            try:
                fields = self.spark.table(t.name).schema.fields
            except Exception:
                continue
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in fields
            )
            pk = self._primary_keys.get(t.name)
            if pk and not is_view:
                cols += f", PRIMARY KEY ({', '.join(pk)})"
            kind = "view" if is_view else "table"
            create = (
                f"CREATE {'VIEW' if is_view else 'TABLE'} "
                f"{t.name} ({cols})"
            )
            rows.append((kind, t.name, t.name,
                         0 if is_view else page, create))
            if not is_view:
                page += 1
        for iname, meta in self._indexes.items():
            rows.append(("index", iname, meta["table"], page,
                         meta["sql"]))
            page += 1
        for tname in sorted(self._triggers):
            meta = self._triggers[tname]
            # SQLite stores triggers with rootpage 0 (schematab.html)
            rows.append(("trigger", tname, meta["table"], 0, meta["sql"]))
        schema = ("type string, name string, tbl_name string, "
                  "rootpage int, sql string")
        self.spark.createDataFrame(rows, schema).createOrReplaceTempView(
            "sqlite_master")

    def _refresh_sqlite_stat1(self, names: list[str]) -> None:
        """Populate ``sqlite_stat1`` after ANALYZE (sqlite.org/fileformat2
        §stat1): one row per analyzed table, (tbl, idx, stat) with stat's
        leading integer = row count, exactly the part of SQLite's format
        a planner consumes. Row counts come from the catalog statistics
        COMPUTE STATISTICS just gathered (no second scan); tables whose
        stats are unavailable fall back to a count, mirroring ANALYZE's
        own full-scan cost. Like SQLite, the table only exists once
        ANALYZE has run."""
        rows = []
        for name in names:
            nrow = None
            try:
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {name}"
                ).collect():
                    if r.col_name == "Statistics" and "rows" in str(r.data_type):
                        nrow = int(str(r.data_type).split()[-2])
                        break
            except Exception:
                pass
            if nrow is None:
                try:
                    nrow = self.spark.table(name).count()
                except Exception:
                    continue
            # like SQLite: one stat row per index on the table; tables
            # without indexes get the (tbl, NULL, nrow) analog row
            idx_names = [i for i, m in self._indexes.items()
                         if m["table"] == name]
            if idx_names:
                for iname in idx_names:
                    rows.append((name, iname, str(nrow)))
            else:
                rows.append((name, None, str(nrow)))
        self.spark.createDataFrame(
            rows, "tbl string, idx string, stat string"
        ).createOrReplaceTempView("sqlite_stat1")

    # -- PRAGMA surface (A13) -----------------------------------------------
    #
    # The reference filters pragmas through an allowlist: read-only
    # introspection pragmas run, mutating ones are denied
    # (pkg/auth/pragma_list.go:3-…). Same policy here, with each allowed
    # pragma mapped to the Spark introspection equivalent.

    _PRAGMA_DENIED = frozenset(
        {
            "journal_mode", "synchronous", "cache_size", "page_size",
            "temp_store", "mmap_size", "wal_checkpoint", "wal_autocheckpoint",
            "foreign_keys", "writable_schema", "secure_delete",
        }
    )

    def _run_pragma(self, statement: str) -> QueryResult:
        m = re.match(r"(?is)\s*PRAGMA\s+(\w+)\s*(?:\(([^)]*)\))?\s*;?\s*$",
                     statement)
        if not m:
            raise ValueError(f"cannot parse PRAGMA: {statement!r}")
        name, arg = m.group(1).lower(), (m.group(2) or "").strip().strip("'\"")
        if name in self._PRAGMA_DENIED:
            # Mirrors the reference's denial of mutating pragmas
            # (pkg/auth/pragma_list.go entries set to false).
            raise PermissionError(f"PRAGMA {name} is not allowed")
        if name == "table_info":
            df = self.spark.sql(f"DESCRIBE TABLE {arg}")
        elif name == "table_list":
            df = self.spark.sql("SHOW TABLES")
        elif name == "database_list":
            df = self.spark.sql("SHOW DATABASES")
        elif name == "index_list":
            # Declared indexes (metadata-only — Parquet stats/layout are
            # the physical analog) in SQLite's schema
            # (seq, name, unique, origin, partial).
            decls = [
                (i, iname, int(meta["unique"]), "c", 0)
                for i, (iname, meta) in enumerate(
                    m for m in self._indexes.items()
                    if m[1]["table"] == arg
                )
            ]
            schema = "seq int, name string, `unique` int, origin string, partial int"
            df = self.spark.createDataFrame(decls, schema)
        elif name == "index_info":
            meta = self._indexes.get(arg)
            if meta is None:
                raise LookupError(f"no such index: {arg}")
            try:
                table_cols = [
                    f.name for f in self.spark.table(meta["table"]).schema
                ]
            except Exception:
                table_cols = []
            info = [
                (seq,
                 table_cols.index(c) if c in table_cols else -1,
                 c)
                for seq, c in enumerate(meta["cols"])
            ]
            df = self.spark.createDataFrame(
                info, "seqno int, cid int, name string")
        elif name == "user_version":
            df = self.spark.sql("SELECT 0 AS user_version")
        else:
            raise PermissionError(f"PRAGMA {name} is not in the allowlist")
        rows = df.collect()
        return QueryResult(list(df.columns), rows, len(rows), 0, 0.0, "PRAGMA")

    def _run_maintenance(self, statement: str) -> QueryResult:
        """ANALYZE / REINDEX (authorizer codes SQLITE_ANALYZE /
        SQLITE_REINDEX, reference pkg/sqlite3/constants.go:64-93;
        exercised via pkg/database/database_connection.go:618-619).

        ANALYZE in SQLite gathers planner statistics (sqlite_stat1); the
        Spark analog is ``ANALYZE TABLE … COMPUTE STATISTICS`` feeding
        Catalyst's cost-based optimizer. Temp views over parquet have no
        catalog entry to attach stats to — those are skipped silently,
        matching SQLite's ANALYZE which never errors on un-analyzable
        schema objects. REINDEX is an accepted no-op: there are no
        physical secondary indexes (Parquet min/max + partition pruning
        replace them), mirroring index_list's truthfully-empty result.
        """
        m = re.match(
            r"(?is)\s*(ANALYZE|REINDEX)\s*([A-Za-z_][\w.]*)?\s*;?\s*$",
            statement,
        )
        if not m:
            raise ValueError(f"cannot parse statement: {statement!r}")
        verb, target = m.group(1).upper(), m.group(2)
        analyzed = 0
        if verb == "ANALYZE":
            if target:
                names = [target]
            else:  # bare ANALYZE: every analyzable catalog table
                names = [
                    t.name
                    for t in self.spark.catalog.listTables()
                    if t.tableType != "TEMPORARY"
                ]
            for name in names:
                try:
                    self.spark.sql(
                        f"ANALYZE TABLE {name} COMPUTE STATISTICS"
                    )
                    analyzed += 1
                except Exception:
                    if target:  # explicit target must exist as a table
                        raise
            # sqlite_stat1 becomes queryable after ANALYZE, like SQLite.
            stat_names = (
                [target] if target
                else [t.name for t in self.spark.catalog.listTables()]
            )
            self._refresh_sqlite_stat1(stat_names)
        return QueryResult([], [], 0, analyzed, 0.0, "MAINT")

    def _run_tcl(self, statement: str, txn: "Transaction | None") -> QueryResult:
        """SQL-level BEGIN/COMMIT/ROLLBACK and the SQLite savepoint
        dialect (reference begin-kind selection:
        pkg/sqlite3/connection.go:118-156; DEFERRED for reads, IMMEDIATE
        for writes — database_connection.go:759-821). ``txn`` is the
        interactive transaction the statement was routed to, or None for
        the SQL-level one that BEGIN opens (``_autotxn``)."""
        toks = re.findall(r"\w+", statement.upper())
        kw = toks[0]
        if kw == "BEGIN":
            if txn is not None:
                raise RuntimeError(f"unsupported TCL inside txn: {statement}")
            if self._autotxn is not None:
                raise RuntimeError("cannot start a transaction within a transaction")
            kind = "IMMEDIATE" if "IMMEDIATE" in toks else "DEFERRED"
            self._autotxn = self.begin(kind=kind)
            return QueryResult([], [], 0, 0, 0.0, "TCL")
        txn = txn or self._autotxn
        if kw in ("SAVEPOINT", "RELEASE") or toks[:2] == ["ROLLBACK", "TO"]:
            # SQLite savepoint dialect; requires an open transaction here
            # (SQLite's implicit-txn savepoints are out of scope — the
            # engine's txn unit is the shadow-view transaction)
            if txn is None:
                raise RuntimeError(f"no transaction is active for {kw}")
            name = re.findall(r"\w+", statement)[-1]
            if kw == "SAVEPOINT":
                txn.savepoint(name)
            elif kw == "RELEASE":
                txn.release(name)
            else:
                txn.rollback_to(name)
            return QueryResult([], [], 0, 0, 0.0, "TCL")
        ending = "commit" if kw in ("COMMIT", "END") else "rollback"
        if txn is None:
            raise RuntimeError(f"cannot {ending} - no transaction is active")
        try:
            getattr(txn, ending)()
        finally:
            if txn is self._autotxn:
                self._autotxn = None
        return QueryResult([], [], 0, 0, 0.0, "TCL")

    @staticmethod
    def _bind(statement: str, params: list | dict | None):
        if params is None:
            return statement, None
        if isinstance(params, dict):
            return statement, params
        # positional: rewrite ? -> :p0, :p1 ... outside of string literals
        out, args, i = [], {}, 0
        in_str = False
        for ch in statement:
            if ch == "'":
                in_str = not in_str
                out.append(ch)
            elif ch == "?" and not in_str:
                if i >= len(params):
                    raise ValueError(
                        f"statement has more placeholders than the "
                        f"{len(params)} params given"
                    )
                out.append(f":p{i}")
                args[f"p{i}"] = params[i]
                i += 1
            else:
                out.append(ch)
        if i != len(params):
            raise ValueError(f"statement has {i} placeholders, got {len(params)} params")
        return "".join(out), args

    # -- write side (M2): one DML planner, two sinks ------------------------
    #
    # Vanilla Spark has no UPDATE/DELETE/upsert on parquet v1 tables (Delta
    # is not available in this environment), so the engine supplies the
    # reference's DML surface (reference classifies and executes these:
    # pkg/database/query.go:53-58, resolver.go:127-130 captures changes).
    # `_plan_dml` parses every form once, after `_translate` has bound the
    # parameters and applied the dialect, and returns a `_DmlPlan`: an
    # append (the new rows) or a rewrite (the table's whole new image).
    # `_run_dml` hands it to one of two sinks — a store commit in
    # autocommit, the transaction's shadow view inside BEGIN … COMMIT — so
    # a statement means the same thing in both.
    #
    # `changes` rides the job that writes the rows, via df.observe() over
    # `__changed` — the Spark analog of reading commit operationMetrics
    # (Delta) or sqlite3_changes. A rewrite writes a fresh version
    # directory, so it reads the files it replaces without cutting its
    # lineage first; only RETURNING and a transaction's shadow view
    # materialize the rows (one localCheckpoint) before they are used.
    # Expressions reach Spark as SQL text run with the bound args, so
    # `?`/`:name` work in every clause.

    _TABLE = rf"({_IDENT}(?:\.{_IDENT})?)"
    _UPDATE_RE = re.compile(rf"(?is)^UPDATE\s+{_TABLE}\s+SET\s+(.*)$")
    _WHERE_RE = re.compile(r"(?i)\s+WHERE\s+")
    _FROM_RE = re.compile(r"(?i)\s+FROM\s+")
    _DELETE_RE = re.compile(
        rf"(?is)^DELETE\s+FROM\s+{_TABLE}(?:\s+WHERE\s+(.*))?$"
    )
    # REPLACE INTO is SQLite's alias for INSERT OR REPLACE INTO; INSERT
    # OVERWRITE [TABLE] is Spark's, and replaces every row
    _INSERT_RE = re.compile(
        r"(?is)^(?:INSERT(?:\s+OR\s+(REPLACE|IGNORE))?\s+INTO|(REPLACE)\s+INTO"
        r"|INSERT\s+(OVERWRITE)(?:\s+TABLE)?)\s+"
        rf"{_TABLE}\s*(?:\(([^)]*)\))?\s*((?:VALUES|SELECT|WITH)\b.*)$"
    )
    _CONFLICT_RE = re.compile(
        r"(?is)\s+ON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*DO\s+"
        r"(?:(NOTHING)|UPDATE\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?)$"
    )

    def _run_dml(
        self, sql_text: str, args, txn: "Transaction | None"
    ) -> QueryResult:
        """Run a translated DML statement through the planner and a sink:
        ``txn`` publishes the result as that transaction's shadow view,
        None commits it to the store (and fires triggers). RETURNING
        projects the post-statement image of the affected rows (deleted
        rows for DELETE), SQLite >= 3.35 semantics. A form the planner
        does not recognise is refused: only the store writes tables."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sql_text, returning = self._split_returning(sql_text)
        plan = self._plan_dml(sql_text, args)
        if plan is None:
            raise ValueError(f"unsupported DML: {sql_text[:60]}")
        obs = Observation()
        rows = plan.rows.observe(obs, F.sum("__changed").alias("changes"))
        eager = returning is not None or txn is not None
        if eager:
            rows = rows.localCheckpoint(eager=True)
        rrows, rcols = [], []
        if returning is not None:
            rdf = self._returning_df(
                rows.filter("__changed > 0").drop("__changed"), returning
            )
            rrows, rcols = rdf.collect(), list(rdf.columns)
        image = rows.filter("__changed = 0") if plan.drop_changed else rows
        image = image.select([
            F.col(quote_ident(f.name)).alias(f.name, metadata=f.metadata)
            for f in plan.fields
        ])
        if txn is not None:
            txn._shadow(plan.table)
            if plan.append:
                image = self.spark.table(plan.table).unionByName(image)
            image.createOrReplaceTempView(plan.table)
        else:
            staged = self._stage({plan.table: image}, plan.append)
            if obs.get["changes"] or plan.replaces:
                self._publish(staged)
            else:  # nothing changed: no version
                self.store.discard([s for _, s in staged])
        changes = int(obs.get["changes"] or 0)
        self._last_changes = changes
        self._total_changes += changes
        if txn is None:
            self._fire_triggers(plan.table, plan.event, changes)
        return QueryResult(rcols, rrows, len(rrows), changes, 0.0, "DML")

    def _plan_dml(self, sql_text: str, args) -> "_DmlPlan | None":
        """The one DML parser: UPDATE [FROM], DELETE, INSERT, INSERT OR
        REPLACE/IGNORE, REPLACE INTO and INSERT … ON CONFLICT DO
        NOTHING | DO UPDATE SET … [WHERE …] (sqlite.org/lang_upsert.html).
        Upserts resolve against the ON CONFLICT columns or the declared
        PRIMARY KEY. Returns None for any other statement."""
        stmt = sql_text.strip().rstrip(";").rstrip()
        m = self._UPDATE_RE.match(stmt)
        if m:
            # SET list [FROM …] [WHERE …], cut at top-level keywords only:
            # a subquery in SET or FROM has its own FROM and WHERE
            table, set_clause = m.groups()
            set_clause, where = _cut(set_clause, self._WHERE_RE)
            set_clause, from_clause = _cut(set_clause, self._FROM_RE)
            tgt = self.spark.table(table)
            assignments = self._assignments(tgt, set_clause)
            if from_clause:
                rows = self._update_from_rows(
                    tgt, table, assignments, from_clause, where, args)
            else:
                proj = ", ".join(
                    f"CASE WHEN __changed = 1 THEN {_store(assignments[c], c, t)}"
                    f" ELSE {quote_ident(c)} END AS {quote_ident(c)}"
                    if c in assignments else quote_ident(c)
                    for c, t in tgt.dtypes
                )
                rows = self.spark.sql(
                    f"SELECT {proj}, __changed FROM (SELECT *, "
                    f"{_flag(where)} AS __changed FROM {table}) AS "
                    f"{_alias(table)}",
                    args=args or None,
                )
            return _DmlPlan(table, "UPDATE", rows, False, tgt.schema.fields)
        m = self._DELETE_RE.match(stmt)
        if m:
            table, where = m.groups()
            rows = self.spark.sql(
                f"SELECT *, {_flag(where)} AS __changed FROM {table}",
                args=args or None,
            )
            return _DmlPlan(table, "DELETE", rows, False,
                            rows.schema.fields[:-1], drop_changed=True)
        m = self._INSERT_RE.match(stmt)
        if not m:
            return None
        or_action, replace_kw, overwrite, table, collist, body = m.groups()
        action = (or_action or replace_kw or "").upper()
        assignments = upd_where = keys = None
        tgt = self.spark.table(table)
        cm = self._CONFLICT_RE.search(body)
        if cm:
            body = body[: cm.start()]
            conflict, nothing, set_clause, upd_where = cm.groups()
            if conflict:
                keys = [_bare(c) for c in conflict.split(",")]
            if nothing:
                action = "IGNORE"
            else:
                action = "UPDATE"
                assignments = self._assignments(tgt, set_clause)
        src = self._insert_source(tgt, collist, body, args)
        if overwrite and action:
            raise ValueError("INSERT OVERWRITE takes no conflict clause")
        if not action:
            return _DmlPlan(table, "INSERT", src, not overwrite,
                            tgt.schema.fields, replaces=bool(overwrite))
        keys = keys or self._primary_keys.get(_bare(table).lower())
        if not keys:
            raise ValueError(
                f"upsert on {table!r} needs a conflict target: declare a "
                "PRIMARY KEY (CREATE TABLE ... PRIMARY KEY or "
                "declare_primary_key) or write ON CONFLICT(cols)"
            )
        src = self._dedup_source(src, keys, keep_last=action != "IGNORE")
        if action == "IGNORE":
            # append-only: the anti-joined new rows, no table rewrite
            rows = src.join(tgt, on=keys, how="left_anti").select(
                [quote_ident(c) for c in tgt.columns] + ["__changed"])
            return _DmlPlan(table, "INSERT", rows, True, tgt.schema.fields)
        if action == "REPLACE":
            assignments = {c: f"excluded.{quote_ident(c)}" for c in tgt.columns}
        rows = self._upsert_rows(tgt, table, src, keys, assignments,
                                 upd_where, args)
        return _DmlPlan(table, "INSERT", rows, False, tgt.schema.fields)

    def declare_primary_key(self, table: str, cols: list[str]) -> None:
        """Declare the conflict target used by INSERT OR REPLACE/IGNORE
        and bare ON CONFLICT (SQLite reads it from the schema's PRIMARY
        KEY/unique indexes; parquet tables carry no constraints, so the
        engine keeps its own registry — also fed by CREATE TABLE parsing)."""
        self._primary_keys[table.lower()] = list(cols)

    def _register_primary_key(self, sql_text: str) -> str:
        """Record PRIMARY KEY constraints in a CREATE TABLE and strip them
        from the DDL (Spark's v1 parser rejects constraint syntax).
        Handles both `col TYPE PRIMARY KEY` and `PRIMARY KEY (a, b)`."""
        m = re.match(
            r"(?is)^(\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\()"
            r"(.*)(\)\s*(?:USING\s+\w+\s*)?;?\s*)$",
            sql_text,
        )
        if not m or "PRIMARY KEY" not in m.group(3).upper():
            return sql_text
        head, table, body, tail = m.groups()
        parts, pk = [], []
        for part in self._split_top_level(body):
            tm = re.match(r"(?is)^\s*PRIMARY\s+KEY\s*\(([^)]*)\)\s*$", part)
            if tm:  # table-level constraint: drop the whole element
                pk = [c.strip() for c in tm.group(1).split(",")]
                continue
            cm = re.match(r"(?is)^(\s*(\w+)\s+.*?)\s+PRIMARY\s+KEY\s*(.*)$", part)
            if cm:
                pk = [cm.group(2)]
                part = cm.group(1) + (" " + cm.group(3) if cm.group(3) else "")
            parts.append(part)
        if pk:
            self.declare_primary_key(table, pk)
        return head + ", ".join(p.strip() for p in parts) + tail

    @staticmethod
    def _assignments(tgt: DataFrame, set_clause: str) -> dict[str, str]:
        """`col = expr, ...` -> {table column: expr}; a column the table
        lacks is an error, as in SQLite."""
        cols = {c.lower(): c for c in tgt.columns}
        out = {}
        for part in Engine._split_top_level(set_clause):
            name, _, expr = part.partition("=")
            col = cols.get(_bare(name).lower())
            if col is None:
                raise ValueError(f"no such column: {name.strip()}")
            out[col] = expr.strip()
        return out

    def _insert_source(
        self, tgt: DataFrame, collist: str | None, body: str, args
    ) -> DataFrame:
        """The rows an INSERT proposes — its VALUES tuples or SELECT/CTE
        run with the bound args — in the target's column order and types,
        each counting one change; a column the statement omits takes its
        DEFAULT, else NULL. One spark.sql call: each DataFrame step costs
        an analysis pass."""
        given = ([_bare(c) for c in collist.split(",")] if collist
                 else tgt.columns)
        by_name = {c.lower(): c for c in given}
        unknown = set(by_name) - {c.lower() for c in tgt.columns}
        if unknown:
            raise ValueError(f"no such column: {sorted(unknown)[0]}")
        proj = []
        for f in tgt.schema.fields:
            c, t = f.name, f.dataType.simpleString()
            v = (quote_ident(by_name[c.lower()]) if c.lower() in by_name
                 else f.metadata.get("CURRENT_DEFAULT", "NULL"))
            proj.append(f"{_store(v, c, t)} AS {quote_ident(c)}")
        return self.spark.sql(
            f"SELECT {', '.join(proj)}, 1 AS __changed FROM ({body}) AS "
            f"__v({', '.join(map(quote_ident, given))})",
            args=args or None,
        )

    @staticmethod
    def _dedup_source(src: DataFrame, keys, keep_last: bool) -> DataFrame:
        """Within-statement conflict resolution: SQLite processes rows
        sequentially, so REPLACE/DO UPDATE keep the LAST proposed row per
        key and IGNORE/DO NOTHING keep the FIRST (statement order is the
        scan order of the proposed rows). `__n` keeps how many rows each
        survivor stands for: SQLite counts every processed row. A row
        with a NULL in any key conflicts with nothing (NULLs are distinct
        in a UNIQUE index), so it forms its own group."""
        from functools import reduce

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        has_null = reduce(
            lambda a, b: a | b, [F.col(quote_ident(k)).isNull() for k in keys]
        )
        w = Window.partitionBy(*keys, F.when(has_null, F.col("__seq")))
        seq = F.col("__seq").desc() if keep_last else F.col("__seq").asc()
        return (
            src.withColumn("__seq", F.monotonically_increasing_id())
            .withColumn("__n", F.count(F.lit(1)).over(w))
            .withColumn("__rn", F.row_number().over(w.orderBy(seq)))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )

    def _upsert_rows(
        self, tgt: DataFrame, table: str, src: DataFrame, keys,
        assignments, upd_where, args,
    ) -> DataFrame:
        """One-pass upsert: full-outer join the target with the
        deduplicated source on the conflict key, then project the merged
        row — matched rows take the DO UPDATE assignments (`excluded.col`
        is the proposed row) where the guard holds, source-only rows
        insert, target-only rows pass through. Shuffles both sides on the
        key once; the source is statement-sized, so AQE broadcasts it."""
        from functools import reduce

        from pyspark.sql import functions as F

        cols = tgt.columns
        t_ren = tgt.select(
            [F.col(quote_ident(c)).alias(f"__t_{c}") for c in cols]
        ).withColumn("__t_present", F.lit(True))
        s_ren = src.select(
            [F.col(quote_ident(c)).alias(f"__exc_{c}") for c in cols] + ["__n"]
        ).withColumn("__s_present", F.lit(True))
        on = reduce(
            lambda a, b: a & b,
            [t_ren[f"__t_{k}"] == s_ren[f"__exc_{k}"] for k in keys],
        )
        j = t_ren.join(s_ren, on, "full_outer").select(
            *[F.col(quote_ident(f"__t_{c}")).alias(c) for c in cols],
            *[F.col(quote_ident(f"__exc_{c}")) for c in cols],
            "__n",
            F.coalesce("__t_present", F.lit(False)).alias("__t_present"),
            F.coalesce("__s_present", F.lit(False)).alias("__s_present"),
        )
        proj = []
        for c, t in tgt.dtypes:
            upd = ""
            if c in assignments:
                expr = _rewrite_excluded(assignments[c])
                upd = f"WHEN __gate THEN {_store(expr, c, t)} "
            proj.append(f"CASE {upd}WHEN __src_only THEN {quote_ident('__exc_' + c)} "
                        f"ELSE {quote_ident(c)} END AS {quote_ident(c)}")
        guard = ""
        if upd_where:
            guard = f" AND {_flag(_rewrite_excluded(upd_where))} = 1"
        with self._as_view(j) as view:
            return self.spark.sql(
                f"SELECT {', '.join(proj)}, CASE WHEN __gate OR __src_only "
                "THEN CAST(__n AS INT) ELSE 0 END AS __changed FROM "
                f"(SELECT *, __t_present AND __s_present{guard} AS __gate, "
                "__s_present AND NOT __t_present AS __src_only "
                f"FROM {view}) AS {_alias(table)}",
                args=args or None,
            )

    def _update_from_rows(
        self, tgt: DataFrame, table: str, assignments, from_clause: str,
        where, args,
    ) -> DataFrame:
        """UPDATE ... FROM (SQLite >= 3.33 joined update): tag target rows
        with a row id, join the FROM source in SQL (assignments and WHERE
        reference both sides, the target under its own name), then
        stitch the new values back by row id. Several source matches for
        one target row pick one of them (SQLite: 'unspecified')."""
        from pyspark.sql import functions as F

        rid = tgt.withColumn(
            "__rid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        assigned = list(assignments)
        sel = ", ".join(
            [f"{_alias(table)}.__rid AS __rid", "1 AS __hit"]
            + [f"({assignments[c]}) AS __new_{i}"
               for i, c in enumerate(assigned)]
        )
        with self._as_view(rid) as view:
            hits = self.spark.sql(
                f"SELECT {sel} FROM {view} AS {_alias(table)}, {from_clause}"
                + (f" WHERE {where}" if where else ""),
                args=args or None,
            ).dropDuplicates(["__rid"])
        final = []
        for c, t in tgt.dtypes:
            if c in assignments:
                new = F.expr(_store(f"__new_{assigned.index(c)}", c, t))
                final.append(
                    F.when(F.col("__hit") == 1, new)
                    .otherwise(F.col(quote_ident(c))).alias(c))
            else:
                final.append(F.col(quote_ident(c)))
        return rid.join(hits, on="__rid", how="left").select(
            *final, F.coalesce("__hit", F.lit(0)).alias("__changed"))

    @contextlib.contextmanager
    def _as_view(self, df: DataFrame):
        """Name `df` for one spark.sql call — how expressions holding
        parameter markers reach an intermediate DataFrame. The analyzed
        plan keeps its reference after the view is dropped."""
        view = f"__dml_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        try:
            yield view
        finally:
            self.spark.catalog.dropTempView(view)

    @staticmethod
    def _split_returning(statement: str):
        """Split a trailing ``RETURNING <exprs>`` clause off a DML
        statement (SQLite >= 3.35 dialect surface, SURVEY §2.B scans row:
        'INSERT ... RETURNING'). Spark SQL has no RETURNING; `_run_dml`
        evaluates the clause over the affected rows."""
        m = re.match(r"(?is)^(.*?)\s+RETURNING\s+(.+?)\s*;?\s*$", statement)
        if m and re.match(r"(?is)\s*(INSERT|UPDATE|DELETE|REPLACE)\b",
                          statement):
            return m.group(1), m.group(2)
        return statement, None

    def _returning_df(self, df: DataFrame, returning: str) -> DataFrame:
        exprs = (
            ["*"]
            if returning.strip() == "*"
            else [e.strip() for e in self._split_top_level(returning)]
        )
        return df.selectExpr(*exprs)

    @staticmethod
    def _split_top_level(s: str) -> list[str]:
        """Split on commas not nested in parens/quotes."""
        out, depth, cur, in_str = [], 0, [], False
        for ch in s:
            if ch == "'":
                in_str = not in_str
            elif not in_str:
                if ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                elif ch == "," and depth == 0:
                    out.append("".join(cur))
                    cur = []
                    continue
            cur.append(ch)
        if cur:
            out.append("".join(cur))
        return out

    # -- catalog / namespace management (A21 analog, §1.1) -----------------

    def create_database(self, name: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {quote_ident(name)}")

    def drop_database(self, name: str) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {quote_ident(name)} CASCADE")

    # -- storage: the store commit behind every table write ----------------

    _CREATE_TABLE_RE = re.compile(
        rf"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?{_TABLE}(.*?)[\s;]*$"
    )
    _DROP_TABLE_RE = re.compile(
        rf"(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?{_TABLE}[\s;]*$"
    )
    _AS_RE = re.compile(r"(?i)\s+AS\s+")
    # CREATE TABLE clauses the store does not write: an own location, a
    # partitioned or bucketed layout, a source other than parquet
    _UNSTORED_RE = re.compile(
        r"(?i)\b(?:LOCATION|PARTITIONED|CLUSTERED)\b|\bUSING\s+(?!parquet\b)"
    )

    def _try_table_ddl(self, sql_text: str, args) -> QueryResult | None:
        """CREATE TABLE makes an EXTERNAL table located at a fresh store
        version, where a CTAS writes its rows. DROP TABLE leaves an
        external table's files and commits a DROP, so earlier snapshots
        still restore the rows. A CREATE the store does not write stays
        a plain Spark table. None for other DDL."""
        done = QueryResult([], [], 0, 0, 0.0, "DDL")
        m = self._DROP_TABLE_RE.match(sql_text)
        if m:
            self.spark.sql(sql_text)
            key, _, meta = self._table(m.group(1))
            if meta is None and key in self.store.tables():
                self.store.drop(key)
            return done
        m = self._CREATE_TABLE_RE.match(sql_text)
        if m is None:
            return None
        if_not_exists, table, rest = m.groups()
        clauses, query = _cut(rest, self._AS_RE)
        if top_level_search(self._UNSTORED_RE, clauses):
            return None
        key, name, meta = self._table(table)
        if meta is not None and if_not_exists:
            return done
        path = self.store.new_dir(key)
        os.makedirs(path)
        created = False
        try:
            self.spark.sql(
                f"CREATE TABLE {name}{clauses} LOCATION {_sql_str(path)}"
                + ("" if query is None else f" AS {query}"),
                args=args or None,
            )
            created = True
            self.store.publish([self.store.stage_dir(
                key, path, self.spark.table(name).schema)])
        except BaseException:
            if created:  # external: the DROP leaves the files to rmtree
                self.spark.sql(f"DROP TABLE {name}")
            shutil.rmtree(path, ignore_errors=True)
            raise
        return done

    def _table(self, table: str):
        """(store key, qualified name, catalog metadata or None) of a
        table name. A table of the session's database is keyed by its
        name, any other by db.name. Read from the session catalog in a
        few calls: DESCRIBE TABLE EXTENDED costs ~20x more."""
        state = self.spark._jsparkSession.sessionState()
        cat = state.catalog()
        ident = cat.qualifyIdentifier(
            state.sqlParser().parseTableIdentifier(table))
        db, name = ident.database().get(), ident.table()
        key = name if db == cat.getCurrentDatabase() else f"{db}.{name}"
        meta = cat.getTableMetadata(ident) if cat.tableExists(ident) else None
        return key, f"{quote_ident(db)}.{quote_ident(name)}", meta

    def _writable(self, table: str):
        """`_table` of a table the store can write: an unpartitioned,
        unbucketed parquet table. A managed one is adopted first."""
        key, name, meta = self._table(table)
        if meta is None or meta.tableType().name() == "VIEW":
            raise ValueError(f"cannot write {table}: no such table")
        provider = meta.provider()
        if (not provider.isDefined() or provider.get().lower() != "parquet"
                or meta.partitionColumnNames().nonEmpty()
                or meta.bucketSpec().isDefined()):
            raise ValueError(
                f"cannot write {table}: the store writes unpartitioned, "
                "unbucketed parquet tables")
        if meta.tableType().name() == "MANAGED":
            meta = self._adopt(key, name, meta)
        return key, name, meta

    def _adopt(self, key: str, name: str, meta):
        """Make a managed table an EXTERNAL one over the same directory,
        whose files become the table's next store version: Spark's DROP
        of a managed table deletes its directory and RENAME moves it,
        which would take the store's versions along. The entry is first
        re-pointed at an empty directory, which the DROP deletes.
        Returns the new catalog metadata."""
        location = meta.location().getPath()
        empty = self.store.new_dir(key)
        os.makedirs(empty)
        self._set_location(name, empty)
        self.spark.sql(f"DROP TABLE {name}")
        self.spark.sql(f"CREATE TABLE {name} ({meta.schema().toDDL()}) "
                       f"USING parquet LOCATION {_sql_str(location)}")
        os.makedirs(location, exist_ok=True)
        self.store.publish([self.store.stage_dir(
            key, location, self.spark.table(name).schema)])
        return self._table(name)[2]

    def _set_location(self, name: str, path: str) -> None:
        self.spark.sql(f"ALTER TABLE {name} SET LOCATION {_sql_str(path)}")

    def _stage(
        self, images: dict[str, DataFrame], append: bool = False
    ) -> list[tuple[str, StagedVersion]]:
        """Write each table's image (its new rows, when `append`) as an
        unpublished store version. An append joins the head's directory
        only when the catalog table reads it; a table located elsewhere,
        such as an ATTACHed one, is written whole."""
        staged = []
        try:
            for table, df in images.items():
                key, name, meta = self._writable(table)
                held = self.store.head_dir(key) == os.path.normpath(
                    meta.location().getPath())
                if append and not held:
                    df = self.spark.table(name).unionByName(df)
                staged.append(
                    (name, self.store.stage(key, df, append and held)))
        except BaseException:
            self.store.discard([s for _, s in staged])
            raise
        return staged

    def _publish(self, staged: list[tuple[str, StagedVersion]]) -> None:
        """Make staged versions their tables' heads: point each
        rewritten table's catalog entry at its new directory, then swap
        the manifest (an append's files join the directory the entry
        already reads). If either step fails, the entries are pointed
        back and the staged files deleted: the commit lands whole or
        not at all."""
        moved = []
        try:
            for name, s in staged:
                if not s.appends:
                    was = self._table(name)[2].location().getPath()
                    self._set_location(name, s.path)
                    moved.append((name, was))
            self.store.publish([s for _, s in staged])
        except BaseException:
            for name, was in reversed(moved):
                self._set_location(name, was)
            self.store.discard([s for _, s in staged])
            raise
        for name, s in staged:
            if s.appends:
                self.spark.catalog.refreshTable(name)

    def commit(self, images: dict[str, DataFrame]) -> None:
        """Replace each table's rows with its image in one store commit:
        every table lands, or none does."""
        self._publish(self._stage(images))

    def optimize(
        self,
        table: str,
        zorder_cols: tuple[str, str] | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> tuple[int, int]:
        """OPTIMIZE [ZORDER BY (a, b)]: rewrite the table's committed
        head as ~target-size files, clustered by the Z-order of
        `zorder_cols` when given, and commit them as one new version.
        Earlier versions keep their files, so snapshots, VERSION AS OF
        and branches still read them until `VersionedStore.vacuum`.
        A maintenance call, like the reference's VACUUM, which its query
        API refuses (pkg/database/resolver.go:100-103), and like it,
        run with the table's writers drained: a commit landing between
        its read and its publish would be replaced. Returns
        (files_before, files_after)."""
        from litebase_spark.operators.layout import zorder_cluster

        # the qualified name: a transaction's shadow view of the bare
        # name holds rows nobody committed
        key, name, _ = self._writable(table)
        files = self.store.files(key)
        n_out = max(1, math.ceil(
            sum(map(os.path.getsize, files)) / target_file_bytes))
        if not files or (zorder_cols is None and len(files) <= n_out):
            return len(files), len(files)
        df = self.spark.table(name)
        self.commit({name: zorder_cluster(df, zorder_cols, n_out)
                     if zorder_cols else df.coalesce(n_out)})
        return len(files), len(self.store.files(key))

    def register_parquet_dir(self, sf_dir: str, tables) -> None:
        register_views(self.spark, sf_dir, tables)

    # -- metrics (A22) ------------------------------------------------------

    def query_metrics(self) -> DataFrame:
        return self.metrics.to_df(self.spark)

    # -- interactive transactions (A9/A10) ----------------------------------

    def begin(
        self, kind: str = "DEFERRED", timeout: float = 300.0
    ) -> "Transaction":
        """BEGIN an interactive multi-statement transaction (reference:
        HTTP-scoped transactions bound to a dedicated connection with a
        5-minute timeout — pkg/database/transaction.go:17-82, manager
        transaction_manager.go:1-88; begin-kind selection DEFERRED for
        reads / IMMEDIATE for writes, database_connection.go:759-821).
        Returns a Transaction whose id can be passed to ``sql(...,
        transaction_id=)`` — the wire model carries transaction_id per
        query (pkg/database/query_input.go:28-32)."""
        txn = Transaction(self, kind=kind, timeout=timeout)
        self._transactions[txn.transaction_id] = txn
        return txn

    def transaction(self, kind: str = "DEFERRED", timeout: float = 300.0):
        """Context-manager form: commit on success, rollback on error."""

        @contextlib.contextmanager
        def _cm():
            txn = self.begin(kind=kind, timeout=timeout)
            try:
                yield txn
                txn.commit()
            except BaseException:
                txn.rollback()
                raise

        return _cm()


class Transaction:
    """Interactive multi-statement transaction over Spark, emulating the
    reference's BEGIN…COMMIT/ROLLBACK surface (A9/A10) with copy-on-write
    **shadow views**.

    A DML statement inside the txn goes through the same planner as in
    autocommit (``Engine._run_dml``): bound, translated, parsed once,
    with RETURNING and `changes` alike. Only the sink differs: the
    statement's result is materialized by one eager localCheckpoint and
    published as a temp view under the table's name — the new rows
    unioned onto the current state for an append, the new image for a
    rewrite. Temp views shadow catalog tables during resolution, so
    later statements in the txn (reads and writes) see the txn's own
    uncommitted state, while nothing is written to storage. COMMIT
    writes each shadow as a new store version and publishes them all
    with one manifest swap (``Engine.commit``): one distributed write per
    touched table, and the tables land together or not at all — a
    COMMIT that fails rolls the transaction back. A ROLLBACK costs
    nothing (drop the views).
    This is the Spark-idiomatic inversion of the reference's design —
    SQLite holds locks and writes WAL frames per statement, rolling back
    by discarding them (pkg/database/transaction.go,
    sqlite3/connection.go:118-156); immutable storage lets us defer ALL
    writes to commit instead.

    Scope/deviations: single-session single-writer (the engine model,
    SURVEY §2.A A4/A5) — cross-session isolation is out of scope; DDL
    inside a txn applies immediately (non-transactional), as in the
    reference where DDL takes the same write path but rollback of DDL is
    rare-path; triggers fire in autocommit only; a DML form the planner
    does not recognise is refused. Timeout mirrors the reference's
    5-minute default: an expired txn auto-rolls-back and every later
    statement fails (transaction.go:55-56)."""

    _seq = 0

    def __init__(self, engine: Engine, kind: str, timeout: float) -> None:
        kind = kind.upper()
        if kind not in ("DEFERRED", "IMMEDIATE"):
            raise ValueError("kind must be DEFERRED or IMMEDIATE")
        Transaction._seq += 1
        self.engine = engine
        self.kind = kind
        self.timeout = timeout
        self.started_at = time.time()
        self.transaction_id = f"txn-{Transaction._seq}"
        self.state = "active"  # active | committed | rolled_back | expired
        # table -> (pre-image DataFrame or None for catalog tables, was_temp)
        self._touched: dict[str, tuple] = {}
        # name -> {"touched": snapshot, "views": {table: DataFrame}};
        # insertion order = savepoint stack order (SQLite semantics)
        self._savepoints: dict[str, dict] = {}

    # -- lifecycle ----------------------------------------------------------

    def _check_live(self) -> None:
        if self.state == "active" and time.time() - self.started_at > self.timeout:
            self.rollback()
            self.state = "expired"
        if self.state != "active":
            raise RuntimeError(f"transaction {self.transaction_id} is {self.state}")

    def commit(self) -> None:
        self._check_live()
        spark = self.engine.spark
        # a shadowed temp view's shadow IS its committed state
        images = {t: spark.table(t)
                  for t, (_, was_temp) in self._touched.items()
                  if not was_temp}
        try:
            self.engine.commit(images)
        except BaseException:
            self.rollback()
            raise
        for table in images:
            spark.catalog.dropTempView(table)
        self.state = "committed"
        self.engine._transactions.pop(self.transaction_id, None)

    def rollback(self) -> None:
        if self.state != "active":
            return
        spark = self.engine.spark
        for table, (pre_image, was_temp) in self._touched.items():
            if was_temp and pre_image is not None:
                pre_image.createOrReplaceTempView(table)
            else:
                spark.catalog.dropTempView(table)
        self.state = "rolled_back"
        self.engine._transactions.pop(self.transaction_id, None)

    # -- savepoints (SQLite SAVEPOINT/RELEASE/ROLLBACK TO; the reference
    # grants database:savepoint, pkg/auth/database_privileges.go:43) -----

    def savepoint(self, name: str) -> None:
        """Mark the current txn state. Shadow views are immutable
        DataFrame plans, so a savepoint is O(touched tables) plan refs —
        no data copied (SQLite stacks WAL offsets the same way)."""
        self._check_live()
        spark = self.engine.spark
        key = name.lower()
        if key in self._savepoints:  # SQLite: reusing a name moves it
            self._savepoints.pop(key)
        self._savepoints[key] = {
            "touched": dict(self._touched),
            "views": {t: spark.table(t) for t in self._touched},
        }

    def _drop_after(self, key: str, inclusive: bool) -> None:
        names = list(self._savepoints)
        idx = names.index(key)
        for n in names[idx if inclusive else idx + 1 :]:
            self._savepoints.pop(n)

    def rollback_to(self, name: str) -> None:
        """Revert to the savepoint's state; the savepoint survives
        (SQLite ROLLBACK TO), later savepoints are discarded."""
        self._check_live()
        key = name.lower()
        sp = self._savepoints.get(key)
        if sp is None:
            raise LookupError(f"no such savepoint: {name}")
        spark = self.engine.spark
        for t, (pre, was_temp) in self._touched.items():
            if t in sp["views"]:
                sp["views"][t].createOrReplaceTempView(t)
            elif was_temp and pre is not None:
                pre.createOrReplaceTempView(t)  # untouched at savepoint
            else:
                spark.catalog.dropTempView(t)
        self._touched = dict(sp["touched"])
        self._drop_after(key, inclusive=False)

    def release(self, name: str) -> None:
        """Remove the savepoint (and its descendants), keeping state —
        SQLite RELEASE folds the savepoint into its parent."""
        self._check_live()
        key = name.lower()
        if key not in self._savepoints:
            raise LookupError(f"no such savepoint: {name}")
        self._drop_after(key, inclusive=True)

    # -- statement execution ------------------------------------------------

    def sql(self, statement: str, params: list | dict | None = None) -> QueryResult:
        self._check_live()
        return self.engine.sql(statement, params,
                               transaction_id=self.transaction_id)

    def _execute(self, statement: str, params) -> QueryResult:
        self._check_live()
        stmt_class = classify_statement(statement)
        if stmt_class == "TCL":
            return self.engine._run_tcl(statement, self)
        if stmt_class == "DML":
            return self.engine._run_dml(
                *self.engine._translate(statement, params), self)
        # DQL/DDL/OTHER: session resolution already sees shadow views.
        return self.engine._execute(statement, params)

    def _shadow(self, table: str) -> None:
        """Record the pre-image of `table` on first touch."""
        if table in self._touched:
            return
        spark = self.engine.spark
        try:
            was_temp = spark.catalog.getTable(table).tableType == "TEMPORARY"
        except Exception:
            raise ValueError(f"unknown table {table!r}") from None
        pre_image = spark.table(table) if was_temp else None
        self._touched[table] = (pre_image, was_temp)

"""Interactive SQL shell over Engine (the reference's `litebase sql`
TUI, pkg/cli/cmd/sql.go — behavioral analog: a line-oriented REPL that
runs statements against one database/branch, prints aligned tables, and
keeps history).

Design for testability: the REPL core is `Shell.run(lines)` over any
iterable of input lines writing to any file-like sink, so tests drive it
without a TTY. `main()` wires stdin/stdout and readline history.

Meta-commands (SQLite-shell dialect the reference's users know):
  .tables [pattern]   list tables
  .schema <table>     show columns
  .mode table|csv     output format
  .timer on|off       per-statement latency
  .eqp on|off         EXPLAIN QUERY PLAN preamble
  .changes            print `changes` after DML
  .help               this text
  .quit / .exit       leave
Statements may span lines and end with `;` — same continuation rule as
the reference shell's input frame.
"""

from __future__ import annotations

import sys

from litebase_spark.engine import Engine

_HELP = """\
.tables [pattern]   list tables
.schema <table>     show columns and types
.mode table|csv     set output format
.timer on|off       toggle per-statement latency
.eqp on|off         print EXPLAIN QUERY PLAN before each query
.changes            toggle printing `changes` after DML
.indexes [table]    list declared indexes
.metrics            per-statement latency telemetry (query logs)
.help               show this help
.quit / .exit       leave the shell"""


def format_table(columns: list[str], rows: list) -> str:
    """Aligned text table (the shell's default output mode)."""
    cells = [[("" if v is None else str(v)) for v in row] for row in rows]
    widths = [
        max([len(c)] + [len(r[i]) for r in cells])
        for i, c in enumerate(columns)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep]
    out.append(
        "|" + "|".join(f" {c.ljust(w)} " for c, w in zip(columns, widths)) + "|"
    )
    out.append(sep)
    for r in cells:
        out.append(
            "|" + "|".join(f" {v.ljust(w)} " for v, w in zip(r, widths)) + "|"
        )
    out.append(sep)
    return "\n".join(out)


def format_csv(columns: list[str], rows: list) -> str:
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(columns)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue().rstrip("\n")


class Shell:
    def __init__(self, engine: Engine, out=None) -> None:
        self.engine = engine
        self.out = out or sys.stdout
        self.mode = "table"
        self.timer = False
        self.eqp = False
        self.show_changes = True

    def _p(self, text: str = "") -> None:
        print(text, file=self.out)

    # -- meta-commands ------------------------------------------------------

    def _meta(self, line: str) -> bool:
        """Handle a .command; returns False to exit the loop."""
        parts = line.split()
        cmd, args = parts[0], parts[1:]
        if cmd in (".quit", ".exit"):
            return False
        if cmd == ".help":
            self._p(_HELP)
        elif cmd == ".tables":
            pattern = args[0] if args else None
            names = [
                t.name
                for t in self.engine.spark.catalog.listTables()
                if pattern is None or pattern.lower() in t.name.lower()
            ]
            self._p("  ".join(sorted(names)))
        elif cmd == ".schema":
            if not args:
                self._p("usage: .schema <table>")
            else:
                try:
                    df = self.engine.spark.table(args[0])
                    self._p(
                        format_table(
                            ["column", "type"],
                            [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
                        )
                    )
                except Exception as e:
                    self._p(f"error: {str(e).splitlines()[0]}")
        elif cmd == ".mode":
            if args and args[0] in ("table", "csv"):
                self.mode = args[0]
            else:
                self._p("usage: .mode table|csv")
        elif cmd == ".timer":
            self.timer = bool(args and args[0] == "on")
        elif cmd == ".eqp":
            # sqlite3 shell parity: print EXPLAIN QUERY PLAN before each
            # subsequent statement (sqlite.org/cli.html#index_eqp)
            self.eqp = bool(args and args[0] == "on")
        elif cmd == ".changes":
            self.show_changes = not self.show_changes
        elif cmd == ".indexes":
            # sqlite3 shell parity (sqlite.org/cli.html): list declared
            # indexes, optionally filtered to one table
            table = args[0] if args else None
            names = sorted(
                name
                for name, meta in self.engine._indexes.items()
                if table is None or meta["table"] == table
            )
            self._p("  ".join(names))
        elif cmd == ".metrics":
            # reference CLI `database query logs` analog: the engine's
            # per-statement-hash latency telemetry (count/avg/min/max/
            # p50/p90/p99 — pkg/logs/query_metric.go:14-28) as a table
            df = self.engine.query_metrics()
            rows = [tuple(r) for r in df.collect()]
            self._p(format_table(df.columns, rows))
        else:
            self._p(f"unknown command {cmd} (try .help)")
        return True

    # -- statements ---------------------------------------------------------

    def _execute(self, statement: str) -> None:
        from litebase_spark.engine import classify_statement

        if self.eqp and classify_statement(statement) == "DQL":
            try:
                for r in self.engine.sql(
                    f"EXPLAIN QUERY PLAN {statement}"
                ).rows:
                    self._p(f"{r.id}|{r.parent}|{r.notused}|{r.detail}")
            except Exception as e:
                self._p(f"eqp error: {str(e).splitlines()[0]}")
        try:
            res = self.engine.sql(statement)
        except Exception as e:
            self._p(f"error: {str(e).splitlines()[0]}")
            return
        if res.rows:
            fmt = format_csv if self.mode == "csv" else format_table
            self._p(fmt(res.columns, res.rows))
        if res.statement_class == "DML" and self.show_changes:
            self._p(f"changes: {res.changes}")
        if self.timer:
            self._p(f"elapsed: {res.latency * 1000:.1f} ms")

    def run(self, lines) -> None:
        """Drive the REPL from an iterable of input lines."""
        buf: list[str] = []
        for raw in lines:
            line = raw.rstrip("\n")
            if not buf and not line.strip():
                continue
            if not buf and line.lstrip().startswith("."):
                if not self._meta(line.strip()):
                    return
                continue
            buf.append(line)
            joined = "\n".join(buf)
            if joined.rstrip().endswith(";"):
                self._execute(joined.rstrip().rstrip(";"))
                buf = []
        if buf:  # trailing statement without ';' (EOF) still runs
            self._execute("\n".join(buf))


# -- management subcommands (reference pkg/cli/cmd/* command tree:
# database create/delete/list/query-logs, backup create/list/delete,
# restore, access-key create/list/show/update/delete, user
# create/list/show/update/delete, status) — thin HTTP clients against a
# running QueryServer, like the reference CLI against its server. -----


class AdminClient:
    """HTTP client for the management API (--url/--token or the
    LITEBASE_URL / LITEBASE_TOKEN environment, mirroring the reference
    profile mechanism pkg/cli/cmd/profile.go)."""

    def __init__(self, url: str, token: str) -> None:
        self.url = url.rstrip("/")
        self.token = token

    def request(self, method: str, path: str, body=None):
        import json as _json
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.url + path,
            data=_json.dumps(body).encode() if body is not None else None,
            method=method,
        )
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, _json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            try:
                return e.code, _json.loads(e.read() or b"{}")
            except ValueError:
                return e.code, {}


def _stmts_arg(raw: str | None):
    import json as _json

    return _json.loads(raw) if raw else []


def admin_main(argv: list[str], out=None) -> int:
    """Dispatch one management subcommand; returns a process exit code.
    Output is JSON on stdout (scripts pipe it), exit 0 iff HTTP 2xx."""
    import argparse
    import json as _json
    import os

    out = out or sys.stdout
    # resolution order mirrors the reference CLI: explicit flags, env,
    # then the current saved profile (profile_main below)
    prof_url, prof_token = profile_lookup()
    p = argparse.ArgumentParser(prog="litebase-spark")
    p.add_argument("--url", default=os.environ.get("LITEBASE_URL", prof_url))
    p.add_argument("--token", default=os.environ.get(
        "LITEBASE_TOKEN", prof_token))
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("status")

    db = sub.add_parser("database").add_subparsers(dest="sub", required=True)
    db.add_parser("list")
    for name in ("create", "delete"):
        sp = db.add_parser(name)
        sp.add_argument("name")
    ql = db.add_parser("query-logs")
    ql.add_argument("name")
    ql.add_argument("branch")
    ql.add_argument("--from", dest="t_from", default=None)
    ql.add_argument("--to", dest="t_to", default=None)
    q = db.add_parser("query")
    q.add_argument("name")
    q.add_argument("branch")
    q.add_argument("statement")

    bk = sub.add_parser("backup").add_subparsers(dest="sub", required=True)
    for name in ("create", "list"):
        sp = bk.add_parser(name)
        sp.add_argument("name")
        sp.add_argument("branch")
    sp = bk.add_parser("delete")
    sp.add_argument("name")
    sp.add_argument("branch")
    sp.add_argument("backup_id")

    rs = sub.add_parser("restore")
    rs.add_argument("name")
    rs.add_argument("branch")
    rs.add_argument("timestamp", type=float)

    ak = sub.add_parser("access-key").add_subparsers(dest="sub", required=True)
    ak.add_parser("list")
    sp = ak.add_parser("create")
    sp.add_argument("access_key_id")
    sp.add_argument("secret")
    sp.add_argument("--statements", default=None)
    for name in ("show", "delete"):
        sp = ak.add_parser(name)
        sp.add_argument("access_key_id")
    sp = ak.add_parser("update")
    sp.add_argument("access_key_id")
    sp.add_argument("--statements", required=True)

    us = sub.add_parser("user").add_subparsers(dest="sub", required=True)
    us.add_parser("list")
    sp = us.add_parser("create")
    sp.add_argument("username")
    sp.add_argument("password")
    sp.add_argument("--statements", default=None)
    for name in ("show", "delete"):
        sp = us.add_parser(name)
        sp.add_argument("username")
    sp = us.add_parser("update")
    sp.add_argument("username")
    sp.add_argument("--password", default=None)
    sp.add_argument("--statements", default=None)

    a = p.parse_args(argv)
    c = AdminClient(a.url, a.token)

    if a.cmd == "status":
        code, body = c.request("GET", "/health")
    elif a.cmd == "database":
        if a.sub == "list":
            code, body = c.request("GET", "/v1/databases")
        elif a.sub == "create":
            code, body = c.request("POST", "/v1/databases", {"name": a.name})
        elif a.sub == "delete":
            code, body = c.request("DELETE", f"/v1/databases/{a.name}")
        elif a.sub == "query-logs":
            qs = []
            if a.t_from:
                qs.append(f"from={a.t_from}")
            if a.t_to:
                qs.append(f"to={a.t_to}")
            tail = ("?" + "&".join(qs)) if qs else ""
            code, body = c.request(
                "GET",
                f"/v1/databases/{a.name}/{a.branch}/metrics/query{tail}",
            )
        else:  # query
            code, body = c.request(
                "POST",
                f"/v1/databases/{a.name}/{a.branch}/query",
                {"queries": [{"id": "cli", "statement": a.statement}]},
            )
    elif a.cmd == "backup":
        base = f"/v1/databases/{a.name}/{a.branch}/backups"
        if a.sub == "create":
            code, body = c.request("POST", base)
        elif a.sub == "list":
            code, body = c.request("GET", base)
        else:
            code, body = c.request("DELETE", f"{base}/{a.backup_id}")
    elif a.cmd == "restore":
        code, body = c.request(
            "POST",
            f"/v1/databases/{a.name}/{a.branch}/restore",
            {"timestamp": a.timestamp},
        )
    elif a.cmd == "access-key":
        if a.sub == "list":
            code, body = c.request("GET", "/v1/access-keys")
        elif a.sub == "create":
            code, body = c.request("POST", "/v1/access-keys", {
                "access_key_id": a.access_key_id,
                "secret": a.secret,
                "statements": _stmts_arg(a.statements),
            })
        elif a.sub == "show":
            code, body = c.request(
                "GET", f"/v1/access-keys/{a.access_key_id}")
        elif a.sub == "update":
            code, body = c.request(
                "PUT", f"/v1/access-keys/{a.access_key_id}",
                {"statements": _stmts_arg(a.statements)})
        else:
            code, body = c.request(
                "DELETE", f"/v1/access-keys/{a.access_key_id}")
    else:  # user
        if a.sub == "list":
            code, body = c.request("GET", "/v1/users")
        elif a.sub == "create":
            code, body = c.request("POST", "/v1/users", {
                "username": a.username,
                "password": a.password,
                "statements": _stmts_arg(a.statements),
            })
        elif a.sub == "show":
            code, body = c.request("GET", f"/v1/users/{a.username}")
        elif a.sub == "update":
            payload = {}
            if a.password is not None:
                payload["password"] = a.password
            if a.statements is not None:
                payload["statements"] = _stmts_arg(a.statements)
            code, body = c.request(
                "PUT", f"/v1/users/{a.username}", payload)
        else:
            code, body = c.request("DELETE", f"/v1/users/{a.username}")

    print(_json.dumps(body, indent=2, default=str), file=out)
    return 0 if 200 <= code < 300 else 1


_ADMIN_CMDS = {
    "status", "database", "backup", "restore", "access-key", "user",
}
_TOP_CMDS = _ADMIN_CMDS | {"serve", "profile"}


def main() -> int:
    """litebase-spark CLI: management subcommands (reference
    pkg/cli/cmd tree) when the first argument names one; otherwise the
    sql shell: reads stdin, UTC session, history via readline when
    interactive."""
    argv = sys.argv[1:]
    if argv and argv[0] == "serve":
        return serve_main(argv[1:])
    if argv and argv[0] == "profile":
        return profile_main(argv[1:])
    if argv and (argv[0] in _ADMIN_CMDS or (
        argv[0].startswith("--") and any(x in _ADMIN_CMDS for x in argv)
    )):
        return admin_main(argv)
    from litebase_spark.session import get_spark

    try:
        import readline  # noqa: F401  (line editing when on a TTY)
    except ImportError:
        pass
    spark = get_spark("litebase-sql-shell")
    shell = Shell(Engine(spark=spark))
    if sys.stdin.isatty():
        print("litebase-spark sql shell — .help for commands, .quit to exit")

        def prompt_lines():
            while True:
                try:
                    yield input("sql> ")
                except EOFError:
                    return

        shell.run(prompt_lines())
    else:
        shell.run(sys.stdin)
    return 0


if __name__ == "__main__":
    sys.exit(main())


# -- serve + profile (reference pkg/cli/cmd/serve.go, profile*.go) ----


def build_server(port: int = 8080, admin_key: str | None = None,
                 store_root: str | None = None):
    """Construct Engine + QueryServer (the `serve` command's body,
    factored so tests can start/stop without blocking). The bootstrap
    admin key comes from --admin-key or LITEBASE_ADMIN_KEY as
    'id:secret' with full privileges — the analog of the reference's
    explicit root-credential provisioning (LITEBASE_ROOT_PASSWORD).
    When neither is supplied a random secret is generated and printed
    once to stderr; there is NO well-known default credential."""
    import os
    import secrets as _secrets
    import sys as _sys

    from litebase_spark.http_api import (
        AccessKey,
        AccessKeyManager,
        AccessKeyStatement,
        QueryServer,
    )
    from litebase_spark.session import get_spark

    raw = admin_key or os.environ.get("LITEBASE_ADMIN_KEY")
    if not raw:
        raw = "admin:" + _secrets.token_urlsafe(24)
        print(
            "litebase-spark: no --admin-key / LITEBASE_ADMIN_KEY supplied; "
            f"generated bootstrap credential {raw} (shown once)",
            file=_sys.stderr,
        )
    kid, _, secret = raw.partition(":")
    keys = AccessKeyManager()
    keys.store(AccessKey(kid, secret, [AccessKeyStatement(["*"], ["*"])]))
    engine = Engine(spark=get_spark("litebase-serve"), store_root=store_root)
    return QueryServer(engine, keys, port=port)


def serve_main(argv: list[str]) -> int:
    """`litebase-spark serve [--port N] [--admin-key id:secret]
    [--store-root DIR]` — start the HTTP query server and block."""
    import argparse

    p = argparse.ArgumentParser(prog="litebase-spark serve")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--admin-key", default=None)
    p.add_argument(
        "--store-root", default=None,
        help="directory of the versioned table store that every write "
             "commits to and snapshots, branches, backups and restore read "
             "(default: spark.sql.warehouse.dir); it must be on the "
             "local filesystem")
    a = p.parse_args(argv)
    srv = build_server(a.port, a.admin_key, a.store_root)
    srv.start()
    print(f"litebase-spark serving on 127.0.0.1:{srv.port}")
    try:
        import time as _time

        while True:
            _time.sleep(3600)
    except KeyboardInterrupt:
        srv.stop()
    return 0


def profile_main(argv: list[str], out=None) -> int:
    """Named connection profiles (reference pkg/cli/cmd/profile*.go):
    create/list/switch/current/delete persisted as JSON. Config path
    from --config or LITEBASE_CONFIG (default ~/.litebase-spark.json);
    `database`/`user`/... subcommands resolve --url/--token from the
    current profile when flags and env are absent."""
    import argparse
    import json as _json
    import os

    out = out or sys.stdout
    p = argparse.ArgumentParser(prog="litebase-spark profile")
    p.add_argument("--config", default=os.environ.get(
        "LITEBASE_CONFIG",
        os.path.expanduser("~/.litebase-spark.json")))
    sub = p.add_subparsers(dest="sub", required=True)
    sp = sub.add_parser("create")
    sp.add_argument("name")
    sp.add_argument("--url", required=True)
    sp.add_argument("--token", required=True)
    sub.add_parser("list")
    sub.add_parser("current")
    sp = sub.add_parser("switch")
    sp.add_argument("name")
    sp = sub.add_parser("delete")
    sp.add_argument("name")
    a = p.parse_args(argv)

    cfg = {"profiles": {}, "current": None}
    if os.path.exists(a.config):
        with open(a.config) as f:
            cfg = _json.load(f)

    if a.sub == "create":
        cfg["profiles"][a.name] = {"url": a.url, "token": a.token}
        cfg.setdefault("current", None)
        if cfg["current"] is None:
            cfg["current"] = a.name
    elif a.sub == "switch":
        if a.name not in cfg["profiles"]:
            print(_json.dumps({"error": f"no such profile: {a.name}"}),
                  file=out)
            return 1
        cfg["current"] = a.name
    elif a.sub == "delete":
        if cfg["profiles"].pop(a.name, None) is None:
            print(_json.dumps({"error": f"no such profile: {a.name}"}),
                  file=out)
            return 1
        if cfg["current"] == a.name:
            cfg["current"] = next(iter(cfg["profiles"]), None)
    with open(a.config, "w") as f:
        _json.dump(cfg, f, indent=1)
    if a.sub == "list":
        print(_json.dumps(
            {"current": cfg["current"],
             "profiles": sorted(cfg["profiles"])}), file=out)
    elif a.sub == "current":
        cur = cfg["current"]
        print(_json.dumps(
            {"current": cur,
             "url": cfg["profiles"].get(cur, {}).get("url")}), file=out)
    else:
        print(_json.dumps({"status": "success", "current": cfg["current"]}),
              file=out)
    return 0


def profile_lookup(config_path: str | None = None) -> tuple[str, str]:
    """Resolve (url, token) from the current profile, or defaults."""
    import json as _json
    import os

    path = config_path or os.environ.get(
        "LITEBASE_CONFIG", os.path.expanduser("~/.litebase-spark.json"))
    try:
        with open(path) as f:
            cfg = _json.load(f)
        prof = cfg["profiles"][cfg["current"]]
        return prof["url"], prof["token"]
    except Exception:
        return "http://127.0.0.1:8080", ""

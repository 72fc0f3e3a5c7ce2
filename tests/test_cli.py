"""SQL shell tests (reference `litebase sql`, pkg/cli/cmd/sql.go):
drive the REPL core with scripted input, assert rendered output."""

from __future__ import annotations

import io

import pytest

from litebase_spark.cli import Shell, format_csv, format_table
from litebase_spark.engine import Engine


@pytest.fixture()
def shell(spark):
    out = io.StringIO()
    return Shell(Engine(spark=spark), out=out), out


def test_select_renders_aligned_table(shell):
    sh, out = shell
    sh.run(["SELECT 1 AS a, 'xy' AS b;"])
    text = out.getvalue()
    assert "| a | b  |" in text
    assert "| 1 | xy |" in text


def test_multiline_statement_and_csv_mode(shell):
    sh, out = shell
    sh.run(
        [
            ".mode csv",
            "SELECT 1 AS a,",
            "       2 AS b;",
        ]
    )
    assert "a,b\n1,2" in out.getvalue().replace("\r", "")


def test_meta_commands(shell, spark):
    sh, out = shell
    spark.sql("DROP TABLE IF EXISTS cli_t")
    sh.run(
        [
            "CREATE TABLE cli_t (id BIGINT, name STRING) USING PARQUET;",
            ".tables cli_t",
            ".schema cli_t",
            ".quit",
            "SELECT 1;",  # never runs: .quit exits
        ]
    )
    text = out.getvalue()
    assert "cli_t" in text
    assert "| id     | bigint |" in text
    assert "name" in text
    spark.sql("DROP TABLE IF EXISTS cli_t")


def test_dml_changes_and_errors(shell, spark):
    sh, out = shell
    spark.sql("DROP TABLE IF EXISTS cli_d")
    sh.run(
        [
            "CREATE TABLE cli_d (id BIGINT) USING PARQUET;",
            "INSERT INTO cli_d VALUES (1),(2);",
            "UPDATE cli_d SET id = id + 10 WHERE id = 1;",
            "SELEKT nonsense;",
        ]
    )
    text = out.getvalue()
    assert "changes: 2" in text
    assert "changes: 1" in text
    assert "error:" in text
    spark.sql("DROP TABLE IF EXISTS cli_d")


def test_trailing_statement_without_semicolon(shell):
    sh, out = shell
    sh.run(["SELECT 7 AS n"])  # EOF flush
    assert "| 7 |" in out.getvalue()


def test_formatters_null_handling():
    assert format_table(["x"], [(None,)]).count("|") == 4
    assert format_csv(["x", "y"], [(None, 1)]) == "x,y\n,1"


def test_eqp_meta_command(shell):
    sh, out = shell
    sh.run([".eqp on", "SELECT 1 AS x;", ".eqp off", "SELECT 2 AS y;"])
    text = out.getvalue()
    # EQP rows precede the first query only
    assert "1|0|0|" in text
    assert text.count("1|0|0|") == 1


def test_indexes_meta_command(shell):
    sh, out = shell
    sh.engine.sql(
        "CREATE TABLE t_cli_ix (a BIGINT, b STRING) USING PARQUET")
    try:
        sh.engine.sql("CREATE INDEX t_cli_ix_a ON t_cli_ix(a)")
        sh.run([".indexes", ".indexes t_cli_ix"])
        assert out.getvalue().count("t_cli_ix_a") == 2
        before = out.getvalue()
        sh.run([".indexes other_table"])
        assert "t_cli_ix_a" not in out.getvalue()[len(before):]
    finally:
        sh.engine.sql("DROP INDEX IF EXISTS t_cli_ix_a")
        sh.engine.sql("DROP TABLE IF EXISTS t_cli_ix")


def test_metrics_meta_command(shell):
    sh, out = shell
    sh.run(["SELECT 41 + 1 AS answer;"])
    before = len(out.getvalue())
    sh.run([".metrics"])
    text = out.getvalue()[before:]
    # the telemetry table includes the statement just executed with its
    # count and latency percentiles (query_metric.go shape)
    assert "p50" in text and "p99" in text
    assert "41 + 1" in text


def test_admin_subcommands_drive_management_api(spark, tmp_path):
    """The management CLI (reference pkg/cli/cmd tree: database/user/
    access-key/status) is a thin client over the HTTP API: spin a real
    QueryServer, drive admin_main, assert exit codes + JSON output."""
    import json

    from litebase_spark.cli import admin_main
    from litebase_spark.http_api import (
        AccessKey,
        AccessKeyManager,
        AccessKeyStatement,
        QueryServer,
    )

    keys = AccessKeyManager()
    keys.store(AccessKey("root", "pw", [AccessKeyStatement(["*"], ["*"])]))
    srv = QueryServer(Engine(spark=spark, store_root=str(tmp_path)), keys)
    srv.start()
    try:
        base = ["--url", f"http://127.0.0.1:{srv.port}", "--token", "root:pw"]

        def run(args):
            buf = io.StringIO()
            rc = admin_main(base + args, out=buf)
            return rc, json.loads(buf.getvalue())

        rc, body = run(["status"])
        assert rc == 0 and body["status"] == "ok"

        rc, body = run(["database", "list"])
        assert rc == 0 and "default" in body["data"]

        rc, _ = run(["database", "create", "cli_db"])
        assert rc == 0
        rc, body = run(["database", "list"])
        assert "cli_db" in body["data"]
        rc, _ = run(["database", "delete", "cli_db"])
        assert rc == 0

        rc, body = run(["database", "query", "main", "main",
                        "SELECT 2 + 2 AS four"])
        assert rc == 0 and body["data"][0]["rows"] == [[4]]

        rc, body = run(["database", "query-logs", "main", "main"])
        assert rc == 0 and isinstance(body["data"], list)

        rc, _ = run(["user", "create", "cliuser", "longenough",
                     "--statements",
                     '[{"resources": ["*"], "privileges": ["*"]}]'])
        assert rc == 0
        rc, body = run(["user", "show", "cliuser"])
        assert rc == 0 and body["data"]["username"] == "cliuser"
        rc, _ = run(["user", "update", "cliuser", "--password",
                     "evenlonger1"])
        assert rc == 0
        rc, _ = run(["user", "delete", "cliuser"])
        assert rc == 0
        rc, _ = run(["user", "show", "cliuser"])
        assert rc == 1  # 404 -> nonzero exit

        rc, _ = run(["access-key", "create", "clikey", "secret9",
                     "--statements",
                     '[{"resources": ["*"], "privileges": ["database:query", "database:select"]}]'])
        assert rc == 0
        rc, body = run(["access-key", "list"])
        assert rc == 0 and "clikey" in body["data"]
        rc, body = run(["access-key", "show", "clikey"])
        assert rc == 0 and body["data"]["statements"]
        rc, _ = run(["access-key", "update", "clikey", "--statements",
                     '[{"resources": ["*"], "privileges": ["*"]}]'])
        assert rc == 0
        rc, _ = run(["access-key", "delete", "clikey"])
        assert rc == 0

        # every server has a store: with no snapshot yet there is
        # nothing to back up (400, exit 1); after one, a backup is made
        rc, body = run(["backup", "list", "main", "main"])
        assert rc == 0 and body["data"] == []
        rc, _ = run(["backup", "create", "main", "main"])
        assert rc == 1
        srv.store.snapshot(label="cli")
        rc, body = run(["backup", "create", "main", "main"])
        assert rc == 0
        rc, listed = run(["backup", "list", "main", "main"])
        assert listed["data"] == [body["data"]["backup_id"]]
    finally:
        srv.stop()


def test_profile_crud_and_serve_bootstrap(spark, tmp_path, monkeypatch):
    """Profiles (reference pkg/cli/cmd/profile*.go) persist url/token and
    feed admin commands; `serve`'s factored builder boots a server with
    the bootstrap admin key."""
    import json

    from litebase_spark.cli import admin_main, build_server, profile_main

    cfg = str(tmp_path / "cfg.json")

    def prof(args):
        buf = io.StringIO()
        rc = profile_main(["--config", cfg] + args, out=buf)
        return rc, json.loads(buf.getvalue())

    rc, _ = prof(["create", "dev", "--url", "http://x", "--token", "a:b"])
    assert rc == 0
    rc, body = prof(["list"])
    assert rc == 0 and body == {"current": "dev", "profiles": ["dev"]}
    rc, _ = prof(["create", "prod", "--url", "http://y", "--token", "c:d"])
    rc, body = prof(["current"])
    assert body["current"] == "dev"  # first profile stays current
    rc, _ = prof(["switch", "prod"])
    rc, body = prof(["current"])
    assert body == {"current": "prod", "url": "http://y"}
    rc, _ = prof(["delete", "prod"])
    rc, body = prof(["current"])
    assert body["current"] == "dev"
    assert prof(["switch", "nope"])[0] == 1

    # serve bootstrap: admin key grants full access; profile resolution
    # feeds admin_main when flags/env are absent
    srv = build_server(port=0, admin_key="root2:pw2")
    srv.start()
    try:
        prof(["create", "local", "--url",
              f"http://127.0.0.1:{srv.port}", "--token", "root2:pw2"])
        prof(["switch", "local"])
        monkeypatch.setenv("LITEBASE_CONFIG", cfg)
        monkeypatch.delenv("LITEBASE_URL", raising=False)
        monkeypatch.delenv("LITEBASE_TOKEN", raising=False)
        buf = io.StringIO()
        rc = admin_main(["status"], out=buf)
        assert rc == 0 and json.loads(buf.getvalue())["status"] == "ok"
        buf = io.StringIO()
        rc = admin_main(
            ["database", "query", "main", "main", "SELECT 1 AS one"],
            out=buf,
        )
        assert rc == 0
        assert json.loads(buf.getvalue())["data"][0]["rows"] == [[1]]
    finally:
        srv.stop()

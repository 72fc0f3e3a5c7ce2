"""HTTP query API tests: auth (401/403), batch typed queries, DML
changes, transactions over the wire, metrics endpoint.

Reference surface: POST /v1/databases/{db}/{branch}/query et al.
(pkg/http/routes.go:252-303, query_controller.go:11-141) with
access-key ACLs (pkg/auth/database_privileges.go:4-45)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from litebase_spark.engine import Engine
from litebase_spark.http_api import (
    AccessKey,
    AccessKeyManager,
    AccessKeyStatement,
    QueryServer,
    ROUTES,
    match_route,
)

RESOURCE = "database:main:branch:main"


@pytest.fixture(scope="module")
def server(spark):
    # a crashed prior run can leave orphaned managed-table locations that
    # make CREATE TABLE fail with LOCATION_ALREADY_EXISTS
    import shutil

    for t in ("h1", "h_dml", "h_txn"):
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    keys = AccessKeyManager()
    keys.store(
        AccessKey(
            "admin",
            "s3cret",
            [AccessKeyStatement(["*"], ["*"])],
        )
    )
    keys.store(
        AccessKey(
            "reader",
            "r3ad",
            [
                AccessKeyStatement(
                    [RESOURCE], ["database:query", "database:select"]
                )
            ],
        )
    )
    srv = QueryServer(Engine(spark=spark), keys)
    srv.start()
    yield srv
    srv.stop()


def _call(srv, method, path, body=None, token=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(body).encode() if body is not None else None,
        method=method,
    )
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_is_open(server):
    code, body = _call(server, "GET", "/health")
    assert (code, body["status"]) == (200, "ok")


def test_missing_or_bad_token_is_401(server):
    q = {"queries": [{"id": "1", "statement": "SELECT 1 AS x"}]}
    path = "/v1/databases/main/main/query"
    assert _call(server, "POST", path, q)[0] == 401
    assert _call(server, "POST", path, q, token="admin:wrong")[0] == 401


def test_reader_cannot_write_403(server):
    path = "/v1/databases/main/main/query"
    q = {
        "queries": [
            {"id": "1", "statement": "CREATE TABLE h1 (id BIGINT) USING PARQUET"}
        ]
    }
    code, body = _call(server, "POST", path, q, token="reader:r3ad")
    assert code == 403 and "database:manage" in body["message"]


def test_reader_wrong_database_403(server):
    path = "/v1/databases/other/main/query"
    q = {"queries": [{"id": "1", "statement": "SELECT 1 AS x"}]}
    assert _call(server, "POST", path, q, token="reader:r3ad")[0] == 403


def test_batch_query_with_typed_parameters(server):
    path = "/v1/databases/main/main/query"
    q = {
        "queries": [
            {
                "id": "q1",
                "statement": "SELECT ? AS n, ? AS s",
                "parameters": [
                    {"type": "INTEGER", "value": "42"},
                    {"type": "TEXT", "value": "hi"},
                ],
            },
            {"id": "q2", "statement": "SELECT 1.5 AS f"},
        ]
    }
    code, body = _call(server, "POST", path, q, token="reader:r3ad")
    assert code == 200
    d = {r["id"]: r for r in body["data"]}
    assert d["q1"]["rows"] == [[42, "hi"]]
    assert d["q1"]["columns"] == ["n", "s"]
    assert d["q2"]["rows"] == [[1.5]]


def test_dml_roundtrip_and_changes(server):
    path = "/v1/databases/main/main/query"
    t = "admin:s3cret"
    _call(server, "POST", path, {"queries": [{"id": "0", "statement": "DROP TABLE IF EXISTS h_dml"}]}, token=t)
    code, body = _call(
        server,
        "POST",
        path,
        {
            "queries": [
                {"id": "1", "statement": "CREATE TABLE h_dml (id BIGINT, v STRING) USING PARQUET"},
                {"id": "2", "statement": "INSERT INTO h_dml VALUES (1,'a'),(2,'b')"},
                {"id": "3", "statement": "UPDATE h_dml SET v = 'z' WHERE id = 2"},
                {"id": "4", "statement": "SELECT id, v FROM h_dml ORDER BY id"},
            ]
        },
        token=t,
    )
    assert code == 200
    d = {r["id"]: r for r in body["data"]}
    assert d["2"]["changes"] == 2
    assert d["3"]["changes"] == 1
    assert d["4"]["rows"] == [[1, "a"], [2, "z"]]
    _call(server, "POST", path, {"queries": [{"id": "9", "statement": "DROP TABLE h_dml"}]}, token=t)


def test_parameterized_update_over_the_wire(server):
    """Typed `parameters` bind into an UPDATE's SET and WHERE."""
    import shutil

    path = "/v1/databases/main/main/query"
    t = "admin:s3cret"
    _call(server, "POST", path, {"queries": [{"id": "0", "statement": "DROP TABLE IF EXISTS h_param"}]}, token=t)
    shutil.rmtree("spark-warehouse/h_param", ignore_errors=True)
    code, body = _call(
        server, "POST", path,
        {"queries": [
            {"id": "1", "statement": "CREATE TABLE h_param (id BIGINT, v STRING) USING PARQUET"},
            {"id": "2", "statement": "INSERT INTO h_param VALUES (1,'a'),(2,'b')"},
            {"id": "3", "statement": "UPDATE h_param SET v = ? WHERE id = ?",
             "parameters": [{"type": "TEXT", "value": "z"},
                            {"type": "INTEGER", "value": "2"}]},
            {"id": "4", "statement": "SELECT id, v FROM h_param ORDER BY id"},
        ]},
        token=t,
    )
    assert code == 200, body
    d = {r["id"]: r for r in body["data"]}
    assert d["3"]["changes"] == 1
    assert d["4"]["rows"] == [[1, "a"], [2, "z"]]
    _call(server, "POST", path, {"queries": [{"id": "9", "statement": "DROP TABLE h_param"}]}, token=t)


def test_transaction_over_the_wire(server):
    t = "admin:s3cret"
    qpath = "/v1/databases/main/main/query"
    _call(server, "POST", qpath, {"queries": [{"id": "0", "statement": "DROP TABLE IF EXISTS h_txn"}]}, token=t)
    _call(
        server, "POST", qpath,
        {"queries": [
            {"id": "1", "statement": "CREATE TABLE h_txn (id BIGINT) USING PARQUET"},
            {"id": "2", "statement": "INSERT INTO h_txn VALUES (1)"},
        ]},
        token=t,
    )
    code, body = _call(
        server, "POST", "/v1/databases/main/main/transactions",
        {"kind": "IMMEDIATE"}, token=t,
    )
    assert code == 201
    txn_id = body["data"]["transaction_id"]
    code, _ = _call(
        server, "POST", qpath,
        {"queries": [{
            "id": "3",
            "statement": "INSERT INTO h_txn VALUES (2)",
            "transaction_id": txn_id,
        }]},
        token=t,
    )
    assert code == 200
    # DELETE .../transactions/{id} = rollback: nothing was written to
    # storage (shadow-view model), so the table is back to one row
    code, _ = _call(
        server, "DELETE",
        f"/v1/databases/main/main/transactions/{txn_id}", token=t,
    )
    assert code == 200
    _, body = _call(
        server, "POST", qpath,
        {"queries": [{"id": "4", "statement": "SELECT count(*) AS n FROM h_txn"}]},
        token=t,
    )
    assert body["data"][0]["rows"] == [[1]]
    # second transaction commits and persists
    _, body = _call(
        server, "POST", "/v1/databases/main/main/transactions",
        {"kind": "IMMEDIATE"}, token=t,
    )
    txn2 = body["data"]["transaction_id"]
    _call(
        server, "POST", qpath,
        {"queries": [{
            "id": "5",
            "statement": "INSERT INTO h_txn VALUES (3)",
            "transaction_id": txn2,
        }]},
        token=t,
    )
    code, _ = _call(
        server, "POST",
        f"/v1/databases/main/main/transactions/{txn2}/commit",
        {}, token=t,
    )
    assert code == 200
    _, body = _call(
        server, "POST", qpath,
        {"queries": [{"id": "6", "statement": "SELECT count(*) AS n FROM h_txn"}]},
        token=t,
    )
    assert body["data"][0]["rows"] == [[2]]
    _call(server, "POST", qpath, {"queries": [{"id": "9", "statement": "DROP TABLE h_txn"}]}, token=t)


def test_metrics_endpoint(server):
    code, body = _call(
        server, "GET", "/v1/databases/main/main/metrics/query",
        token="reader:r3ad",
    )
    assert code == 200
    assert isinstance(body["data"], list)


def test_metrics_endpoint_windowed(server):
    server.engine.metrics.record("SELECT 42", 0.01, ts=5000.0)
    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/metrics/query?from=4980&to=5100",
        token="reader:r3ad",
    )
    assert code == 200
    stmts = {r["statement"] for r in body["data"]}
    assert "SELECT 42" in stmts
    assert all(4980 <= r["bucket_ts"] <= 5100 for r in body["data"])
    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/metrics/query?from=6000",
        token="reader:r3ad",
    )
    assert body["data"] == [] or all(
        r["bucket_ts"] >= 6000 for r in body["data"]
    )


def test_vacuum_rejected_as_error(server):
    code, body = _call(
        server, "POST", "/v1/databases/main/main/query",
        {"queries": [{"id": "1", "statement": "VACUUM"}]},
        token="admin:s3cret",
    )
    assert code == 400 and "VACUUM" in body["message"]


def test_per_query_timeout_ms_returns_408(server):
    # busy_timeout over the wire (database_connection.go:52): the
    # statement's job group is cancelled and the API answers 408
    path = "/v1/databases/main/main/query"
    q = {
        "queries": [
            {
                "id": "slow",
                "statement": (
                    "SELECT count(*) AS n FROM range(100000000) a "
                    "CROSS JOIN range(100000) b"
                ),
                "timeout_ms": 1500,
            }
        ]
    }
    code, body = _call(server, "POST", path, q, token="admin:s3cret")
    assert code == 408 and "cancelled" in body["message"]
    # session healthy afterwards
    ok = {"queries": [{"id": "1", "statement": "SELECT 1 AS x"}]}
    code, body = _call(server, "POST", path, ok, token="admin:s3cret")
    assert code == 200 and body["data"][0]["rows"] == [[1]]


def test_database_names_are_quoted(server):
    # a backtick in a database name is doubled inside the quoting, so
    # the name can never close the identifier and reach the statement
    # as SQL text; Spark's refusal of the name comes back as JSON
    admin = "admin:s3cret"
    code, body = _call(server, "POST", "/v1/databases", {"name": "bad`name"},
                       token=admin)
    assert (code, body["status"]) == (400, "error")
    code, body = _call(server, "DELETE", "/v1/databases/bad`name", token=admin)
    assert (code, body["status"]) == (400, "error")
    code, _ = _call(server, "POST", "/v1/databases", {"name": "victim"},
                    token=admin)
    assert code == 201
    try:
        # unquoted, this reads DROP DATABASE IF EXISTS `victim`CASCADE--`
        code, body = _call(server, "DELETE", "/v1/databases/victim`CASCADE--",
                           token=admin)
        assert (code, body["status"]) == (400, "error")
        code, body = _call(server, "GET", "/v1/databases", token=admin)
        assert "victim" in body["data"]
    finally:
        _call(server, "DELETE", "/v1/databases/victim", token=admin)


def test_admin_routes_snapshots_backups_restore_keys(spark, tmp_path):
    """Reference §2.C admin surface: snapshots, backups, restore,
    branches, databases, access-key CRUD over the wire."""
    import time as _time

    engine = Engine(spark=spark, store_root=str(tmp_path / "store"))
    engine.sql("DROP TABLE IF EXISTS adm_t")
    engine.sql("CREATE TABLE adm_t AS SELECT id, id * 2 AS v FROM range(5)")
    keys = AccessKeyManager()
    keys.store(AccessKey("admin", "s3cret", [AccessKeyStatement(["*"], ["*"])]))
    srv = QueryServer(engine, keys)
    srv.start()
    try:
        base = "/v1/databases/main/main"
        # snapshot
        code, body = _call(srv, "POST", f"{base}/snapshots",
                           {"label": "wire"}, token="admin:s3cret")
        assert code == 201 and body["data"]["tables"] == ["adm_t"]
        code, body = _call(srv, "GET", f"{base}/snapshots", token="admin:s3cret")
        assert code == 200 and body["data"][-1]["label"] == "wire"
        # backup lifecycle
        code, body = _call(srv, "POST", f"{base}/backups", {}, token="admin:s3cret")
        assert code == 201
        bid = body["data"]["backup_id"]
        code, body = _call(srv, "GET", f"{base}/backups", token="admin:s3cret")
        assert code == 200 and bid in body["data"]
        code, _ = _call(srv, "DELETE", f"{base}/backups/{bid}", token="admin:s3cret")
        assert code == 200
        code, body = _call(srv, "GET", f"{base}/backups", token="admin:s3cret")
        assert bid not in body["data"]
        # restore at now -> zero-copy views
        code, body = _call(srv, "POST", f"{base}/restore",
                           {"timestamp": _time.time()}, token="admin:s3cret")
        assert code == 200 and body["data"]["views"] == ["adm_t"]
        assert spark.table("main_main_restore__adm_t").count() == 5
        # branch fork: listed by the database and shown with its tables
        code, body = _call(srv, "POST", "/v1/databases/main/branches",
                           {"name": "dev"}, token="admin:s3cret")
        assert code == 201 and body["data"]["tables"] == ["adm_t"]
        code, body = _call(srv, "GET", "/v1/databases/main",
                           token="admin:s3cret")
        assert body["data"]["branches"] == ["dev", "main"]
        code, body = _call(srv, "GET", "/v1/databases/main/dev",
                           token="admin:s3cret")
        assert code == 200 and body["data"]["tables"] == ["adm_t"]
        for bad, want in (({"name": "dev"}, 409), ({"name": "../x"}, 400),
                          ({"name": "qa", "source": "nope"}, 404)):
            code, _ = _call(srv, "POST", "/v1/databases/main/branches", bad,
                            token="admin:s3cret")
            assert code == want, bad
        # access-key CRUD + use
        code, body = _call(srv, "POST", "/v1/access-keys",
                           {"access_key_id": "svc", "secret": "pw",
                            "statements": [{"resources": ["*"],
                                            "privileges": ["database:query",
                                                           "database:select"]}]},
                           token="admin:s3cret")
        assert code == 201
        q = {"queries": [{"id": "1", "statement": "SELECT 1 AS x"}]}
        code, body = _call(srv, "POST", f"{base}/query", q, token="svc:pw")
        assert code == 200 and body["data"][0]["rows"] == [[1]]
        code, _ = _call(srv, "GET", "/v1/access-keys", token="svc:pw")
        assert code == 403  # key management needs access-key:manage
        code, body = _call(srv, "GET", "/v1/access-keys", token="admin:s3cret")
        assert code == 200 and "svc" in body["data"]
        code, _ = _call(srv, "DELETE", "/v1/access-keys/svc", token="admin:s3cret")
        assert code == 200
        code, _ = _call(srv, "POST", f"{base}/query", q, token="svc:pw")
        assert code == 401  # revoked
    finally:
        srv.stop()
        engine.sql("DROP TABLE IF EXISTS adm_t")


def _rows(srv, statement):
    code, body = _call(srv, "POST", "/v1/databases/main/main/query",
                       {"queries": [{"id": "1", "statement": statement}]},
                       token="admin:s3cret")
    assert code == 200, body
    return body["data"][0]["rows"]


def _admin_post(srv, route, body):
    return _call(srv, "POST", f"/v1/databases/main/main/{route}", body,
                 token="admin:s3cret")


def test_restore_before_a_sql_update_returns_the_pre_update_rows(server):
    """SQL INSERT -> snapshot -> UPDATE -> restore at the snapshot's time:
    the snapshot pins what SQL wrote, so the restored view holds the
    pre-UPDATE rows while the table holds the updated ones."""
    _rows(server, "DROP TABLE IF EXISTS h_pitr")
    _rows(server, "CREATE TABLE h_pitr (id BIGINT, v STRING) USING PARQUET")
    try:
        _rows(server, "INSERT INTO h_pitr VALUES (1, 'a'), (2, 'b')")
        code, snap = _admin_post(server, "snapshots", {})
        assert code == 201 and "h_pitr" in snap["data"]["tables"]
        _rows(server, "UPDATE h_pitr SET v = 'z'")
        code, body = _admin_post(
            server, "restore", {"timestamp": snap["data"]["created_at"]})
        assert code == 200 and "h_pitr" in body["data"]["views"]
        assert _rows(server, "SELECT id, v FROM main_main_restore__h_pitr "
                             "ORDER BY id") == [[1, "a"], [2, "b"]]
        assert _rows(server, "SELECT id, v FROM h_pitr ORDER BY id") == [
            [1, "z"], [2, "z"]]
    finally:
        _rows(server, "DROP TABLE IF EXISTS h_pitr")


def test_drop_then_create_starts_empty_and_a_snapshot_keeps_the_rows(server):
    """DROP TABLE then CREATE TABLE of the same name gives an empty
    table, and a snapshot taken before the DROP still restores the
    dropped rows: the drop deletes no data file."""
    _rows(server, "DROP TABLE IF EXISTS h_drop")
    _rows(server, "CREATE TABLE h_drop (id BIGINT) USING PARQUET")
    try:
        _rows(server, "INSERT INTO h_drop VALUES (1), (2), (3)")
        code, snap = _admin_post(server, "snapshots", {})
        assert code == 201
        _rows(server, "DROP TABLE h_drop")
        _rows(server, "CREATE TABLE h_drop (id BIGINT) USING PARQUET")
        assert _rows(server, "SELECT count(*) AS n FROM h_drop") == [[0]]
        code, body = _admin_post(
            server, "restore", {"timestamp": snap["data"]["created_at"]})
        assert code == 200 and "h_drop" in body["data"]["views"]
        assert _rows(server, "SELECT id FROM main_main_restore__h_drop "
                             "ORDER BY id") == [[1], [2], [3]]
    finally:
        _rows(server, "DROP TABLE IF EXISTS h_drop")


def _stream_call(srv, path, body, token):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(body).encode(),
        method="POST",
    )
    req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req) as resp:
        ctype = resp.headers.get("Content-Type")
        frames = [json.loads(line) for line in resp.read().splitlines()]
    return ctype, frames


def test_query_stream_pipelines_frames(server):
    # a multi-row SELECT followed by a second statement: frames must
    # arrive in pipeline order (columns -> rows -> end per query)
    path = "/v1/databases/main/main/query/stream"
    q = {
        "queries": [
            {"id": "a", "statement":
                "SELECT id, id * 2 AS dbl FROM RANGE(600) AS t(id)"},
            {"id": "b", "statement": "SELECT 'x' AS s"},
        ]
    }
    ctype, frames = _stream_call(server, path, q, "admin:s3cret")
    assert ctype == "application/x-ndjson"
    kinds = [(f["id"], f["type"]) for f in frames]
    assert kinds[0] == ("a", "columns")
    assert kinds[-1] == ("b", "end")
    a_rows = [r for f in frames
              if f["id"] == "a" and f["type"] == "rows"
              for r in f["rows"]]
    assert len(a_rows) == 600 and a_rows[0][1] == a_rows[0][0] * 2
    # 600 rows with 256-row batching -> at least 2 rows frames (the
    # response is framed, not one monolithic body)
    assert sum(1 for f in frames
               if f["id"] == "a" and f["type"] == "rows") >= 2
    a_end = next(f for f in frames
                 if f["id"] == "a" and f["type"] == "end")
    assert a_end["row_count"] == 600
    b = [f for f in frames if f["id"] == "b"]
    assert [f["type"] for f in b] == ["columns", "rows", "end"]
    assert b[1]["rows"] == [["x"]]


def test_query_stream_error_aborts_pipeline(server):
    path = "/v1/databases/main/main/query/stream"
    q = {
        "queries": [
            {"id": "bad", "statement": "SELECT * FROM no_such_table_xyz"},
            {"id": "after", "statement": "SELECT 1 AS x"},
        ]
    }
    _, frames = _stream_call(server, path, q, "admin:s3cret")
    assert frames[-1]["type"] == "error" and frames[-1]["id"] == "bad"
    # fail-fast: nothing for the statement after the failure
    assert not any(f["id"] == "after" for f in frames)


def test_query_stream_bad_parameter_emits_error_frame(server):
    # malformed typed parameter (non-numeric INTEGER): decode happens
    # after headers are sent, so the failure must surface as an error
    # frame on the stream — never a dropped connection
    path = "/v1/databases/main/main/query/stream"
    q = {
        "queries": [
            {"id": "bad", "statement": "SELECT ? AS x",
             "parameters": [{"type": "INTEGER", "value": "not-a-number"}]},
            {"id": "after", "statement": "SELECT 1 AS x"},
        ]
    }
    _, frames = _stream_call(server, path, q, "admin:s3cret")
    assert frames[-1]["type"] == "error" and frames[-1]["id"] == "bad"
    assert not any(f["id"] == "after" for f in frames)


def test_query_stream_honors_timeout_ms(server):
    # the busy_timeout analog the batch endpoint honors: a 1 ms budget
    # cannot cover a real Spark job, so the stream must emit an error
    # frame mentioning cancellation instead of running unbounded
    path = "/v1/databases/main/main/query/stream"
    q = {
        "queries": [
            {"id": "slow", "timeout_ms": 1500, "statement":
                "SELECT count(*) AS n FROM range(100000000) a "
                "CROSS JOIN range(100000) b"},
        ]
    }
    _, frames = _stream_call(server, path, q, "admin:s3cret")
    err = [f for f in frames if f["type"] == "error"]
    assert err and "cancelled" in err[0]["message"]


def test_query_stream_enforces_privileges(server):
    path = "/v1/databases/main/main/query/stream"
    q = {"queries": [
        {"id": "1", "statement": "CREATE TABLE h_s (id BIGINT) USING PARQUET"}
    ]}
    code, body = _call(server, "POST", path, q, token="reader:r3ad")
    assert code == 403 and "database:manage" in body["message"]


def test_user_crud_lifecycle_and_grant_flip(server):
    """Users surface (reference routes.go:17-52 + user_controller.go):
    create -> list/show (no password leaked) -> the user authenticates
    with Bearer username:password -> a denied query flips to allowed
    after a PUT grant update -> delete revokes access."""
    base = "/v1/databases/main/main"
    # create: password policy enforced (validate min=8)
    code, body = _call(server, "POST", "/v1/users",
                       {"username": "ana", "password": "short"},
                       token="admin:s3cret")
    assert code == 400
    code, body = _call(
        server, "POST", "/v1/users",
        {"username": "ana", "password": "s3cret-pw",
         "statements": [{"resources": ["database:other:branch:main"],
                         "privileges": ["database:query",
                                        "database:select"]}]},
        token="admin:s3cret")
    assert code == 201 and body["data"]["username"] == "ana"
    assert "password" not in body["data"]

    # index + show require cluster:manage; reader key is forbidden
    code, body = _call(server, "GET", "/v1/users", token="admin:s3cret")
    assert code == 200 and [u["username"] for u in body["data"]] == ["ana"]
    code, _ = _call(server, "GET", "/v1/users", token="reader:r3ad")
    assert code == 403
    code, body = _call(server, "GET", "/v1/users/ana", token="admin:s3cret")
    assert code == 200 and body["data"]["statements"]

    # ana authenticates but is NOT granted on main:main yet
    q = {"queries": [{"id": "1", "statement": "SELECT 1 AS x"}]}
    code, _ = _call(server, "POST", f"{base}/query", q, token="ana:wrong")
    assert code == 401
    code, _ = _call(server, "POST", f"{base}/query", q, token="ana:s3cret-pw")
    assert code == 403

    # grant flip: PUT replaces statements -> the same query now succeeds
    code, _ = _call(
        server, "PUT", "/v1/users/ana",
        {"statements": [{"resources": ["database:main:branch:main"],
                         "privileges": ["database:query",
                                        "database:select"]}]},
        token="admin:s3cret")
    assert code == 200
    code, body = _call(server, "POST", f"{base}/query", q,
                       token="ana:s3cret-pw")
    assert code == 200 and body["data"][0]["rows"] == [[1]]

    # delete revokes authentication entirely
    code, _ = _call(server, "DELETE", "/v1/users/ana", token="admin:s3cret")
    assert code == 200
    code, _ = _call(server, "POST", f"{base}/query", q, token="ana:s3cret-pw")
    assert code == 401


def test_access_key_show_and_update(server):
    """AccessKey show/update (routes.go:62-82): show returns statements
    but never the secret; update replaces the grants in place."""
    code, _ = _call(server, "POST", "/v1/access-keys",
                    {"access_key_id": "rot", "secret": "p4ss",
                     "statements": [{"resources": ["*"],
                                     "privileges": ["database:query"]}]},
                    token="admin:s3cret")
    assert code == 201
    code, body = _call(server, "GET", "/v1/access-keys/rot",
                       token="admin:s3cret")
    assert code == 200 and body["data"]["access_key_id"] == "rot"
    assert "secret" not in json.dumps(body)
    code, _ = _call(server, "PUT", "/v1/access-keys/rot",
                    {"statements": [{"resources": ["*"],
                                     "privileges": ["*"]}]},
                    token="admin:s3cret")
    assert code == 200
    code, body = _call(server, "GET", "/v1/access-keys/rot",
                       token="admin:s3cret")
    assert body["data"]["statements"][0]["privileges"] == ["*"]
    _call(server, "DELETE", "/v1/access-keys/rot", token="admin:s3cret")


def test_trigger_and_attach_over_the_wire(server):
    """Round-4 DDL families reach the wire: CREATE TRIGGER maintains a
    derived table through HTTP inserts; ATTACH exposes a fixture dir as
    a queryable namespace in the same session."""
    import shutil

    path = "/v1/databases/main/main/query"
    t = "admin:s3cret"
    for tb in ("w_base", "w_sum"):
        _call(server, "POST", path,
              {"queries": [{"id": "0",
                            "statement": f"DROP TABLE IF EXISTS {tb}"}]},
              token=t)
        shutil.rmtree(f"spark-warehouse/{tb}", ignore_errors=True)
    code, body = _call(server, "POST", path, {"queries": [
        {"id": "1", "statement":
         "CREATE TABLE w_base (k STRING, v BIGINT) USING PARQUET"},
        {"id": "2", "statement":
         "CREATE TABLE w_sum (k STRING, total BIGINT) USING PARQUET"},
        {"id": "3", "statement":
         "CREATE TRIGGER w_sync AFTER INSERT ON w_base BEGIN "
         "INSERT OVERWRITE w_sum SELECT k, SUM(v) AS total FROM w_base "
         "GROUP BY k; END"},
        {"id": "4", "statement": "INSERT INTO w_base VALUES ('x', 5)"},
        {"id": "5", "statement": "SELECT * FROM w_sum"},
    ]}, token=t)
    assert code == 200
    d = {r["id"]: r for r in body["data"]}
    assert d["5"]["rows"] == [["x", 5]]

    code, body = _call(server, "POST", path, {"queries": [
        {"id": "1", "statement":
         "ATTACH DATABASE '/root/testdata/sf0.001' AS wire_att"},
        {"id": "2", "statement":
         "SELECT count(*) AS n FROM wire_att.region"},
        {"id": "3", "statement": "DETACH wire_att"},
    ]}, token=t)
    assert code == 200
    d = {r["id"]: r for r in body["data"]}
    assert d["2"]["rows"][0][0] == 5
    _call(server, "POST", path, {"queries": [
        {"id": "9", "statement": "DROP TRIGGER IF EXISTS w_sync"},
        {"id": "10", "statement": "DROP TABLE IF EXISTS w_base"},
        {"id": "11", "statement": "DROP TABLE IF EXISTS w_sum"},
    ]}, token=t)


def test_status_and_show_routes(server):
    """Round-4 read surface: /v1/status (cluster status analog),
    database show, branch show, backup 404s."""
    from litebase_spark.wire import BinaryStreamClient

    t = "admin:s3cret"
    code, body = _call(server, "GET", "/v1/status", token=t)
    assert code == 200
    d = body["data"]
    assert d["role"] == "primary" and d["uptime_s"] >= 0
    assert d["store_root"] == server.engine.store.root  # always on
    assert _call(server, "GET", "/v1/status")[0] == 401
    # queries_served counts each statement once, whatever route ran it:
    # two over JSON, two over the NDJSON stream, one over the wire
    served = d["queries_served"]
    code, _ = _call(server, "POST", "/v1/databases/main/main/query", {
        "queries": [{"id": "j1", "statement": "SELECT 1 AS a"},
                    {"id": "j2", "statement": "SELECT 2 AS b"}],
    }, token=t)
    assert code == 200
    _, frames = _stream_call(server, "/v1/databases/main/main/query/stream", {
        "queries": [{"id": "s1", "statement": "SELECT 3 AS c"},
                    {"id": "s2", "statement":
                        "SELECT id FROM RANGE(300) AS t(id)"}],
    }, t)
    assert [f["type"] for f in frames if f["id"] == "s2"] == [
        "columns", "rows", "rows", "end"]
    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", f"Bearer {t}")
    try:
        c.open()
        assert c.query("w1", "SELECT 4 AS d").error == ""
    finally:
        c.close()
    code, body = _call(server, "GET", "/v1/status", token=t)
    assert body["data"]["queries_served"] == served + 5

    code, body = _call(server, "GET", "/v1/databases/main", token=t)
    assert code == 200
    assert body["data"]["database"] == "main"
    assert "main" in body["data"]["branches"]

    code, body = _call(server, "GET", "/v1/databases/main/main", token=t)
    assert code == 200 and body["data"]["branch"] == "main"
    # reader can see its own branch detail
    code, _ = _call(server, "GET", "/v1/databases/main/main",
                    token="reader:r3ad")
    assert code == 200
    code, _ = _call(server, "GET", "/v1/databases/main/nope", token=t)
    assert code == 404

    code, _ = _call(server, "GET",
                    "/v1/databases/main/main/backups/backup-123", token=t)
    assert code == 404


# -- HMAC request signatures (reference pkg/auth/request_signer.go +
# pkg/http/request_signature_validator.go + the middleware's 10s
# X-Lbdb-Date window) --------------------------------------------------


def _signed_call(srv, method, path, body, key_id, secret, *,
                 date=None, tamper_body=False, tamper_sig=False):
    import time as _time

    from litebase_spark.http_api import sign_request

    data = json.dumps(body).encode() if body is not None else b""
    headers = {
        "Content-Type": "application/json",
        "Host": f"127.0.0.1:{srv.port}",
        "X-Lbdb-Date": str(date if date is not None else int(_time.time())),
    }
    token = sign_request(key_id, secret, method, path, headers, data)
    if tamper_sig:
        token = token[:-4] + ("AAAA" if token[-4:] != "AAAA" else "BBBB")
    if tamper_body:
        data = json.dumps({"queries": [
            {"id": "1", "statement": "DROP TABLE important"}]}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=data or None,
        method=method)
    for k, v in headers.items():
        req.add_header(k, v)
    req.add_header("Authorization", token)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_signed_request_round_trip(server):
    q = {"queries": [{"id": "1", "statement": "SELECT 7 AS x"}]}
    code, body = _signed_call(
        server, "POST", "/v1/databases/main/main/query", q,
        "admin", "s3cret")
    assert code == 200, body
    assert body["data"][0]["rows"] == [[7]]


def test_signed_request_rejects_wrong_secret_and_tamper(server):
    q = {"queries": [{"id": "1", "statement": "SELECT 7 AS x"}]}
    path = "/v1/databases/main/main/query"
    assert _signed_call(server, "POST", path, q, "admin", "wrong")[0] == 401
    assert _signed_call(server, "POST", path, q, "admin", "s3cret",
                        tamper_sig=True)[0] == 401
    # body swapped after signing: hash mismatch
    assert _signed_call(server, "POST", path, q, "admin", "s3cret",
                        tamper_body=True)[0] == 401


def test_signed_request_rejects_expired_timestamp(server):
    import time as _time

    q = {"queries": [{"id": "1", "statement": "SELECT 7 AS x"}]}
    path = "/v1/databases/main/main/query"
    old = int(_time.time()) - 3600
    assert _signed_call(server, "POST", path, q, "admin", "s3cret",
                        date=old)[0] == 401


def test_signed_request_acls_still_apply(server):
    # reader key signs correctly but lacks database:manage
    path = "/v1/databases/main/main/query"
    q = {"queries": [{"id": "1", "statement":
                      "CREATE TABLE h_sig (id BIGINT) USING PARQUET"}]}
    code, body = _signed_call(server, "POST", path, q, "reader", "r3ad")
    assert code == 403 and "database:manage" in body["message"]


def test_request_token_parse_is_strict():
    import base64

    from litebase_spark.http_api import parse_request_token

    assert parse_request_token("not-base64!!") is None
    assert parse_request_token(
        base64.b64encode(b"credential=a;junk").decode()) is None
    assert parse_request_token(
        base64.b64encode(b"credential=a;signed_headers=h").decode()) is None
    t = parse_request_token(base64.b64encode(
        b"credential=a;signed_headers=host;signature=ff").decode())
    assert t == {"credential": "a", "signed_headers": "host",
                 "signature": "ff"}


# -- binary frame protocol (reference pkg/http/query_stream_controller.go,
# pkg/database/query_input.go + query_response.go, pkg/sqlite3/column.go;
# exact byte layout in litebase_spark/wire.py) -------------------------


def test_wire_codec_round_trips():
    from litebase_spark import wire

    q = wire.encode_query_input(
        "q1", "SELECT ? AS a, ? AS b", [
            {"type": "INTEGER", "value": -42},
            {"type": "TEXT", "value": "héllo"},
        ], transaction_id="txn-9")
    d = wire.decode_query_input(q)
    assert d["id"] == "q1" and d["transaction_id"] == "txn-9"
    assert d["statement"] == "SELECT ? AS a, ? AS b"
    assert d["parameters"] == [
        {"type": "INTEGER", "value": -42},
        {"type": "TEXT", "value": "héllo"},
    ]
    # response round trip with every column type
    resp = wire.WireResponse(
        id="q1", changes=3, latency=0.125, row_count=2,
        columns=["i", "f", "s", "b", "n"],
        rows=[[1, 1.5, "x", b"\x00\xff", None],
              [-2**62, -0.0, "", b"", None]])
    resp.row_count = 2
    enc = wire.encode_query_response(resp)
    back = wire.decode_query_response(enc)
    assert back.columns == resp.columns
    assert back.rows == resp.rows
    assert back.changes == 3 and back.row_count == 2
    # error envelope
    err = wire.WireResponse(id="q2", error="boom")
    back2 = wire.decode_query_response(
        wire.encode_query_response(err), is_error=True)
    assert back2.error == "boom" and back2.id == "q2"


def test_binary_stream_open_frame_error_close(server):
    from litebase_spark.wire import BinaryStreamClient

    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", "Bearer admin:s3cret")
    try:
        assert c.open() == b"connected"
        # typed SELECT with bound parameters
        r = c.query("a", "SELECT ? AS i, ? AS t, NULL AS n", [
            {"type": "INTEGER", "value": 7},
            {"type": "TEXT", "value": "ok"},
        ])
        assert r.error == "" and r.id == "a"
        assert r.columns == ["i", "t", "n"]
        assert r.rows == [[7, "ok", None]]
        # pipelined second query on the SAME stream
        r2 = c.query("b", "SELECT 1.5 AS f, X'00FF' AS blob")
        assert r2.rows == [[1.5, b"\x00\xff"]]
        # statement error -> ERROR entry, stream stays usable
        r3 = c.query("c", "SELECT * FROM nonexistent_table_xyz")
        assert r3.error != ""
        r4 = c.query("d", "SELECT 2 AS two")
        assert r4.rows == [[2]]
    finally:
        c.close()


def test_concurrent_readers_and_writer(server):
    """ThreadingHTTPServer + single-writer lock under parallel load:
    8 reader threads hammer SELECTs while a writer inserts batches;
    every response is well-formed, no request is dropped, and the
    final count equals the writes (reference: one-writer/many-reader
    deployment model, SURVEY §2.A A4/A5 disposition)."""
    import threading

    qpath = "/v1/databases/main/main/query"
    t = "admin:s3cret"
    _call(server, "POST", qpath, {"queries": [
        {"id": "0", "statement": "DROP TABLE IF EXISTS h_conc"}]}, token=t)
    code, _ = _call(server, "POST", qpath, {"queries": [
        {"id": "1",
         "statement": "CREATE TABLE h_conc (id BIGINT) USING PARQUET"}]},
        token=t)
    assert code == 200
    errors: list = []
    read_ok = [0]
    lock = threading.Lock()

    def reader(n):
        for i in range(n):
            code, body = _call(server, "POST", qpath, {"queries": [
                {"id": f"r{i}",
                 "statement": "SELECT COUNT(*) AS n FROM h_conc"}]},
                token="reader:r3ad")
            if code != 200 or not isinstance(
                body["data"][0]["rows"][0][0], int
            ):
                with lock:
                    errors.append((code, body))
            else:
                with lock:
                    read_ok[0] += 1

    def writer(n):
        for i in range(n):
            code, body = _call(server, "POST", qpath, {"queries": [
                {"id": f"w{i}",
                 "statement": f"INSERT INTO h_conc VALUES ({i})"}]},
                token=t)
            if code != 200 or body["data"][0]["changes"] != 1:
                with lock:
                    errors.append((code, body))

    threads = [threading.Thread(target=reader, args=(6,)) for _ in range(8)]
    threads.append(threading.Thread(target=writer, args=(5,)))
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=180)
    assert not any(th.is_alive() for th in threads), "request hung"
    assert not errors, errors[:3]
    assert read_ok[0] == 48
    _, body = _call(server, "POST", qpath, {"queries": [
        {"id": "f", "statement": "SELECT COUNT(*) AS n FROM h_conc"}]},
        token=t)
    assert body["data"][0]["rows"] == [[5]]
    _call(server, "POST", qpath, {"queries": [
        {"id": "9", "statement": "DROP TABLE h_conc"}]}, token=t)


def test_encryption_key_rotation_flow(server):
    # reference key_controller.go + key_activate_controller.go: the next
    # key is stored INACTIVE (signed by the current key) and must be
    # activated explicitly; activating a never-stored key is rejected
    import hashlib
    import hmac as _hmac

    def _sign(active: str, new: str) -> str:
        return _hmac.new(
            active.encode(), new.encode(), hashlib.sha256
        ).hexdigest()

    # activate before store -> rejected
    code, body = _call(server, "POST", "/v1/keys/activate",
                       {"encryption_key": "new-key-1"}, "admin:s3cret")
    assert code == 400 and "invalid" in body["message"]
    # store with a bad signature -> rejected
    code, body = _call(server, "POST", "/v1/keys",
                       {"encryption_key": "new-key-1",
                        "signature": "ff" * 32}, "admin:s3cret")
    assert code == 403
    # store signed by the active key -> accepted (still inactive)
    code, body = _call(server, "POST", "/v1/keys",
                       {"encryption_key": "new-key-1",
                        "signature": _sign(server.encryption_key,
                                           "new-key-1")}, "admin:s3cret")
    assert code == 200, body
    assert server.encryption_key != "new-key-1"  # not active yet
    # activate -> accepted, becomes the signing key for the NEXT store
    code, body = _call(server, "POST", "/v1/keys/activate",
                       {"encryption_key": "new-key-1"}, "admin:s3cret")
    assert code == 200, body
    assert server.encryption_key == "new-key-1"
    # old key can no longer sign; the new active key can
    code, _ = _call(server, "POST", "/v1/keys",
                    {"encryption_key": "new-key-2",
                     "signature": _sign("stale-old-key", "new-key-2")},
                    "admin:s3cret")
    assert code == 403
    code, _ = _call(server, "POST", "/v1/keys",
                    {"encryption_key": "new-key-2",
                     "signature": _sign("new-key-1", "new-key-2")},
                    "admin:s3cret")
    assert code == 200
    # cluster:manage required
    code, _ = _call(server, "POST", "/v1/keys/activate",
                    {"encryption_key": "new-key-2"}, "reader:r3ad")
    assert code == 403
    # non-string JSON values -> clean 400 (reference Input/Validate
    # layer), not an AttributeError aborting the handler thread
    code, _ = _call(server, "POST", "/v1/keys",
                    {"encryption_key": 12345,
                     "signature": _sign("new-key-1", "12345")},
                    "admin:s3cret")
    assert code == 400
    code, _ = _call(server, "POST", "/v1/keys",
                    {"encryption_key": "new-key-3",
                     "signature": {"hex": "zz"}}, "admin:s3cret")
    assert code == 400
    code, _ = _call(server, "POST", "/v1/keys/activate",
                    {"encryption_key": ["new-key-3"]}, "admin:s3cret")
    assert code == 400
    # activation retires every other stored-but-unactivated candidate
    active = server.encryption_key
    for cand in ("cand-a", "cand-b"):
        code, _ = _call(server, "POST", "/v1/keys",
                        {"encryption_key": cand,
                         "signature": _sign(active, cand)}, "admin:s3cret")
        assert code == 200
    code, _ = _call(server, "POST", "/v1/keys/activate",
                    {"encryption_key": "cand-a"}, "admin:s3cret")
    assert code == 200
    assert not server.pending_keys  # cand-b retired, no unbounded growth
    code, _ = _call(server, "POST", "/v1/keys/activate",
                    {"encryption_key": "cand-b"}, "admin:s3cret")
    assert code == 400


def test_binary_stream_blob_parameter_round_trip(server):
    # wire.decode_parameter yields BLOBs as raw bytes (unlike the JSON
    # path, which base64-encodes) — the handler must NOT b64decode them
    from litebase_spark.wire import BinaryStreamClient

    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", "Bearer admin:s3cret")
    try:
        c.open()
        payload = b"\x00\xff\x10binary\x00tail"
        r = c.query("bl", "SELECT ? AS b, LENGTH(?) AS n", [
            {"type": "BLOB", "value": payload},
            {"type": "BLOB", "value": payload},
        ])
        assert r.error == "", r.error
        assert r.rows == [[payload, len(payload)]]
    finally:
        c.close()


def test_binary_stream_rejects_bad_auth(server):
    import pytest as _pytest

    from litebase_spark.wire import BinaryStreamClient

    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", "Bearer nope:wrong")
    with _pytest.raises(ConnectionError, match="HTTP 40"):
        c.open()


def test_binary_stream_txn_and_write(server):
    from litebase_spark.wire import BinaryStreamClient

    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", "Bearer admin:s3cret")
    try:
        c.open()
        c.query("w0", "DROP TABLE IF EXISTS h_wire")
        r = c.query("w1", "CREATE TABLE h_wire (id BIGINT) USING PARQUET")
        assert r.error == "", r.error
        r = c.query("w2", "INSERT INTO h_wire VALUES (1), (2)")
        assert r.error == "" and r.changes == 2
        r = c.query("w3", "SELECT COUNT(*) AS n FROM h_wire")
        assert r.rows == [[2]]
        c.query("w4", "DROP TABLE h_wire")
    finally:
        c.close()


def test_binary_stream_acl_per_statement(server):
    from litebase_spark.wire import BinaryStreamClient

    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", "Bearer reader:r3ad")
    try:
        c.open()
        r = c.query("r1", "SELECT 1 AS one")
        assert r.rows == [[1]]
        r2 = c.query("r2", "CREATE TABLE h_wire2 (id BIGINT) USING PARQUET")
        assert "database:manage" in r2.error
    finally:
        c.close()


def test_dataset_card_and_compaction_endpoints(server, spark, sf_dir):
    """GET .../tables/{t}/card and .../tables/{t}/compaction-plan: the
    ops-parity introspection surface over a registered corpus table
    (round-8 verdict stretch)."""
    from litebase_spark.catalog import load

    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_http")
    code, body = _call(
        server, "GET", "/v1/databases/main/main/tables/docs_http/card",
        token="reader:r3ad",
    )
    assert code == 200
    rows = body["data"]
    assert rows and {"source", "n_docs", "n_langs", "top_lang",
                     "total_tokens", "n_exact_dupes"} <= set(rows[0])
    assert all(r["n_docs"] >= r["n_docs"] - r["n_exact_dupes"] >= 0
               for r in rows)

    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/tables/docs_http/compaction-plan"
        "?target_bytes=50000",
        token="reader:r3ad",
    )
    assert code == 200
    plan = body["data"]
    assert plan and {"source", "bin_id", "n_files", "bin_bytes"} <= set(
        plan[0]
    )
    # unauthenticated -> 401; unknown table -> 400
    code, _ = _call(
        server, "GET", "/v1/databases/main/main/tables/docs_http/card"
    )
    assert code == 401
    code, body = _call(
        server, "GET", "/v1/databases/main/main/tables/no_such_tbl/card",
        token="reader:r3ad",
    )
    assert code == 400
    # malformed / non-positive int params -> 400 body, not a dropped
    # connection (round-8 ADVICE: int() used to run outside the try)
    for bad in ("target_bytes=abc", "target_bytes=0", "rows_per_file=-5"):
        code, body = _call(
            server, "GET",
            f"/v1/databases/main/main/tables/docs_http/compaction-plan"
            f"?{bad}",
            token="reader:r3ad",
        )
        assert code == 400, bad
        assert body["status"] == "error"


def test_engine_card_methods(server, spark, sf_dir):
    from litebase_spark.catalog import load

    load(spark, sf_dir, "documents").createOrReplaceTempView("docs_eng")
    card = server.engine.dataset_card("docs_eng").collect()
    assert len(card) > 0
    plan = server.engine.compaction_plan(
        "docs_eng", target_bytes=25_000
    ).collect()
    assert all(r["bin_bytes"] > 0 for r in plan)


def test_drift_report_endpoint_and_engine_method(server, spark, sf_dir):
    """GET .../tables/{t}/drift-report — the fused PSI/JSD/KS/W1
    pipeline health gate over a registered table, one corpus scan."""
    from litebase_spark.catalog import load

    load(spark, sf_dir, "events").createOrReplaceTempView("events_http")
    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/tables/events_http/drift-report",
        token="reader:r3ad",
    )
    assert code == 200
    rows = body["data"]
    assert len(rows) == 1
    r = rows[0]
    assert {"n_ref", "n_cur", "n_cells", "ks_d", "w1_dollars", "psi",
            "psi_bins_dropped", "jsd_nats"} <= set(r)
    assert r["n_ref"] > 0 and r["n_cur"] > 0
    assert 0.0 <= r["ks_d"] <= 1.0
    assert r["w1_dollars"] >= 0.0 and r["jsd_nats"] >= 0.0

    # param routing + loud empty-half guard: a split past all data
    # empties the current half -> runtime assert -> 400, never null
    # statistics (round-11 ADVICE fix)
    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/tables/events_http/drift-report"
        "?split=2030-01-01",
        token="reader:r3ad",
    )
    assert code == 400
    assert "empty reference or current half" in body["message"]

    # an unparseable split string is a 400 too, not a null-comparison
    # half-empty degradation
    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/tables/events_http/drift-report"
        "?split=not-a-date",
        token="reader:r3ad",
    )
    assert code == 400
    assert "unparseable split" in body["message"]

    # engine method == endpoint
    eng = server.engine.drift_report("events_http").first()
    assert eng["ks_d"] == r["ks_d"] and eng["psi"] == r["psi"]

    # multi-column form: ?cols=... -> one row per column, same scan
    code, body = _call(
        server, "GET",
        "/v1/databases/main/main/tables/events_http/drift-report"
        "?cols=value",
        token="reader:r3ad",
    )
    assert code == 200
    assert [row["vcol"] for row in body["data"]] == ["value"]
    assert body["data"][0]["n_ref"] > 0

    # '*' resolves every numeric column; engine twin agrees
    multi = server.engine.drift_report("events_http", cols="*").collect()
    assert {row["vcol"] for row in multi} >= {"value"}
    for row in multi:
        assert row["n_ref"] > 0 and row["n_cur"] > 0

    # auth + unknown table behave like the card endpoint
    code, _ = _call(
        server, "GET",
        "/v1/databases/main/main/tables/events_http/drift-report",
    )
    assert code == 401
    code, _ = _call(
        server, "GET",
        "/v1/databases/main/main/tables/nope_tbl/drift-report",
        token="reader:r3ad",
    )
    assert code == 400


# -- the route table and the shared statement path --------------------------

_SAMPLE_PARAMS = {
    "db": "main", "branch": "main", "table": "t", "report": "card",
    "snapshot": "1", "backup": "b", "key_id": "k", "username": "u",
    "txn": "x",
}


@pytest.mark.parametrize(
    "route",
    [r for r in ROUTES if r.grants is not None],
    ids=lambda r: f"{r.method} {r.template}",
)
def test_every_route_but_health_requires_credentials(server, route):
    path = route.template.format(**_SAMPLE_PARAMS)
    assert match_route(route.method, path)[0] == route
    body = {} if route.method in ("POST", "PUT") else None
    code, resp = _call(server, route.method, path, body)
    assert (code, resp["message"]) == (401, "invalid access key")


def test_unmatched_path_authenticates_before_404(server):
    assert _call(server, "GET", "/v1/nope")[0] == 401
    assert _call(server, "GET", "/v1/nope", token="reader:r3ad")[0] == 404
    assert _call(server, "PUT", "/health")[0] == 401


def _raw_call(srv, method, path, data: bytes, token):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=data, method=method)
    req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


_Q = "/v1/databases/main/main/query"


@pytest.mark.parametrize("path,data", [
    (_Q, json.dumps({"queries": [{"id": "1", "statement": "SELECT ? AS x",
                                  "parameters": [{"type": "INTEGER",
                                                  "value": "abc"}]}]})),
    (_Q, json.dumps({"queries": [{"id": "1", "statement": "SELECT 1 AS x",
                                  "timeout_ms": "abc"}]})),
    (_Q, json.dumps({"queries": ["SELECT 1"]})),
    (_Q, json.dumps([{"id": "1", "statement": "SELECT 1 AS x"}])),
    ("/v1/users", "not json"),
    ("/v1/access-keys", "not json"),
    ("/v1/databases/main/main/transactions", json.dumps({"kind": "BOGUS"})),
], ids=["bad-integer", "bad-timeout", "query-not-object", "list-body",
        "users-not-json", "access-keys-not-json", "bad-transaction-kind"])
def test_malformed_request_is_400(server, path, data):
    code, body = _raw_call(server, "POST", path, data.encode(),
                           "admin:s3cret")
    assert code == 400 and body["status"] == "error" and body["message"]


def test_unknown_json_parameter_type_is_rejected(server):
    q = {"queries": [{"id": "1", "statement": "SELECT ? AS x",
                      "parameters": [{"type": "BOOLEAN", "value": True}]}]}
    code, body = _call(server, "POST", _Q, q, token="admin:s3cret")
    assert code == 400 and "BOOLEAN" in body["message"]


def test_unknown_wire_parameter_type_is_an_error_entry(server):
    from litebase_spark import wire
    from litebase_spark.wire import BinaryStreamClient

    # type byte 9 is no SQLite storage class
    param = bytes([9]) + (1).to_bytes(4, "little") + b"x"
    q = (wire._lp(b"u") + wire._lp(b"") + wire._lp(b"SELECT ? AS x")
         + wire._lp(param))
    c = BinaryStreamClient(
        "127.0.0.1", server.port,
        "/v1/databases/main/main/query/stream", "Bearer admin:s3cret")
    try:
        c.open()
        c.send_message(wire.MSG_FRAME, wire.encode_frame_payload([q]))
        mtype, payload = c.read_message()
        [(etype, data)] = list(wire.iter_frame_entries(payload))
        assert etype == wire.MSG_ERROR
        err = wire.decode_query_response(data, is_error=True).error
        assert "unsupported type" in err
        assert c.query("v", "SELECT 1 AS one").rows == [[1]]
    finally:
        c.close()

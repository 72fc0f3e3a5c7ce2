"""HTTP query API with access-key authorization (the reference's primary
user surface, re-expressed over Engine).

Reference parity (behavioral, not structural):
  * routes — every route is declared once in `ROUTES` below with its
    method, path, required grants and handler (pkg/http/routes.go);
  * request shape — {"queries": [{id, statement, parameters,
    transaction_id?, timeout_ms?}]} with typed parameters TEXT/INTEGER/
    FLOAT/NULL/BLOB (pkg/http/query_controller.go:11-141,
    pkg/database/query_input.go:28-32);
  * authorization — access keys carry statements granting privileges on
    database:branch resources (pkg/auth/database_privileges.go:4-45);
    each route requires a grant, and every statement also needs its
    statement-class privilege (select/insert/update/delete/pragma/...);
  * single-writer — the Spark driver is the write path (the reference
    forwards writes to the primary); a lock serializes write and
    transactional statements.

Implementation is stdlib http.server (no external deps in this
environment); authentication accepts BOTH the reference's HMAC-signed
request tokens (pkg/auth/request_signer.go scheme: signature over
method + path + signed headers + query params + body hash, chained
hmac-sha256 through the X-Lbdb-Date value, 10 s replay window —
sign_request / validate_signed_request below) AND a
`Bearer <key_id>:<secret>` compat fallback. One dispatcher
authenticates and authorizes every request, and one function
(`prepare_statement`) checks every statement of the batch, NDJSON and
binary query routes. For production swap the transport; Engine and the
ACLs are the surface.
"""

from __future__ import annotations

import base64
import contextlib
import datetime as dt
import decimal
import hashlib
import hmac
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from types import SimpleNamespace
from typing import NamedTuple
from urllib.parse import parse_qs, urlparse

from pyspark.errors import AnalysisException

from litebase_spark import wire
from litebase_spark.engine import Engine, classify_statement

# -- access keys / ACLs ------------------------------------------------------

# statement-class -> required privilege (database_privileges.go names)
_DML_PRIV = {
    "INSERT": "database:insert",
    "UPDATE": "database:update",
    "DELETE": "database:delete",
    "MERGE": "database:insert",
}


def required_privilege(statement: str) -> str:
    cls = classify_statement(statement)
    if cls == "DQL":
        return "database:select"
    if cls == "DML":
        head = statement.lstrip().split(None, 1)[0].upper()
        return _DML_PRIV.get(head, "database:insert")
    if cls == "PRAGMA":
        return "database:pragma"
    if cls == "TCL":
        return "database:transaction"
    if cls in ("DDL", "MAINT"):
        return "database:manage"
    return "database:query"


@dataclass
class AccessKeyStatement:
    """One grant: privileges on resources ('*' or 'database:<db>:branch:<b>')."""

    resources: list[str]
    privileges: list[str]  # privilege names or '*'


def _grants_json(statements: list[AccessKeyStatement]) -> list[dict]:
    return [
        {"resources": s.resources, "privileges": s.privileges}
        for s in statements
    ]


@dataclass
class AccessKey:
    access_key_id: str
    secret: str
    statements: list[AccessKeyStatement] = field(default_factory=list)

    def allows(self, resource: str, privilege: str) -> bool:
        for st in self.statements:
            if ("*" in st.resources or resource in st.resources) and (
                "*" in st.privileges or privilege in st.privileges
            ):
                return True
        return False


class AccessKeyManager:
    def __init__(self) -> None:
        self._keys: dict[str, AccessKey] = {}

    def store(self, key: AccessKey) -> None:
        self._keys[key.access_key_id] = key

    def get(self, key_id: str) -> AccessKey | None:
        return self._keys.get(key_id)

    def list_ids(self) -> list[str]:
        return sorted(self._keys)

    def revoke(self, key_id: str) -> bool:
        return self._keys.pop(key_id, None) is not None

    def authenticate(self, header: str | None) -> AccessKey | None:
        if not header or not header.startswith("Bearer "):
            return None
        token = header[len("Bearer ") :]
        key_id, _, secret = token.partition(":")
        key = self._keys.get(key_id)
        if key is None or not hmac.compare_digest(key.secret, secret):
            return None
        return key


def _hash_password(password: str, *, salt: bytes | None = None) -> str:
    """scrypt-hash a password into a self-describing 'scrypt$salt$hash'
    string (reference pkg/auth/user_manager.go bcrypt-hashes on Add and
    verifies on Authenticate; the stored password is never plaintext)."""
    salt = salt if salt is not None else os.urandom(16)
    dk = hashlib.scrypt(
        password.encode(), salt=salt, n=2**14, r=8, p=1, dklen=32
    )
    return f"scrypt${salt.hex()}${dk.hex()}"


def _verify_password(password: str, stored: str) -> bool:
    try:
        scheme, salt_hex, _ = stored.split("$", 2)
        if scheme != "scrypt":
            return False
        recomputed = _hash_password(password, salt=bytes.fromhex(salt_hex))
    except (ValueError, TypeError):
        return False
    return hmac.compare_digest(recomputed, stored)


@dataclass
class User:
    """Named principal with password + grants (reference
    pkg/auth/user.go:5-18 — User carries Statements exactly like an
    access key; UserResponse omits the password). Only the scrypt hash
    is stored; the raw password never lives on the object."""

    username: str
    password_hash: str
    statements: list[AccessKeyStatement] = field(default_factory=list)
    created_at: str = ""
    updated_at: str = ""

    @classmethod
    def create(
        cls, username: str, password: str,
        statements: list[AccessKeyStatement] | None = None,
    ) -> "User":
        return cls(username, _hash_password(password), statements or [])

    def set_password(self, password: str) -> None:
        self.password_hash = _hash_password(password)

    def verify_password(self, password: str) -> bool:
        return _verify_password(password, self.password_hash)

    def as_response(self) -> dict:
        return {
            "username": self.username,
            "statements": _grants_json(self.statements),
            "created_at": self.created_at,
            "updated_at": self.updated_at,
        }


class UserManager:
    """CRUD + authentication for users (reference
    pkg/auth/user_manager.go; routes pkg/http/routes.go:17-52). A user
    authenticates with the same Bearer id:secret scheme as an access
    key and is authorized through their statements."""

    def __init__(self) -> None:
        self._users: dict[str, User] = {}

    @staticmethod
    def _now() -> str:
        return dt.datetime.now(dt.timezone.utc).isoformat()

    def all(self) -> list[User]:
        return [self._users[u] for u in sorted(self._users)]

    def get(self, username: str) -> User | None:
        return self._users.get(username)

    def store(self, user: User) -> None:
        user.created_at = user.created_at or self._now()
        user.updated_at = self._now()
        self._users[user.username] = user

    def delete(self, username: str) -> bool:
        return self._users.pop(username, None) is not None

    def authenticate(self, header: str | None) -> AccessKey | None:
        if not header or not header.startswith("Bearer "):
            return None
        token = header[len("Bearer ") :]
        name, _, password = token.partition(":")
        u = self._users.get(name)
        if u is None or not u.verify_password(password):
            return None
        # adapt to the AccessKey authorization interface; never carry
        # the raw password forward
        return AccessKey(u.username, "", u.statements)


# -- HMAC request signatures -------------------------------------------------
#
# The reference authenticates every non-basic request with a signed
# Authorization token (pkg/auth/request_signer.go SignRequest;
# pkg/http/request_signature_validator.go RequestSignatureValidator;
# expiry via X-Lbdb-Date in authentication_middleware.go
# ensureRequestIsNotExpired). Scheme, reproduced exactly:
#
#   request_string = METHOD + /path + json(signed headers, lowercase
#       keys, sorted, compact) + json(query params or {}) +
#       sha256_hex(raw body)
#   signed_request = sha256_hex(request_string)
#   date      = hmac_sha256_hex(key=secret,      msg=x-lbdb-date)
#   service   = hmac_sha256_hex(key=date_hex,    msg="litebase_request")
#   signature = hmac_sha256_hex(key=service_hex, msg=signed_request)
#   token     = base64("credential=<id>;signed_headers=content-type,
#               host,x-lbdb-date;signature=<hex>")
#
# The Bearer id:secret scheme below remains as a compat fallback.

_SIGNED_HEADER_SET = ("content-type", "host", "x-lbdb-date")
SIGNATURE_MAX_AGE_SECONDS = 10  # authentication_middleware.go:66


def _transform_header_key(key: str) -> str:
    # internal/utils/transform_header_key.go
    return key.lower().replace("_", "-")


def _request_string(
    method: str,
    path: str,
    headers: dict[str, str],
    signed_headers: list[str],
    query_params: dict[str, str] | None,
    body: bytes,
) -> tuple[str, str]:
    """(request_string, x-lbdb-date value) for signing/validation."""
    body_hash = hashlib.sha256(body or b"").hexdigest()
    hdrs = {
        _transform_header_key(k): v
        for k, v in headers.items()
        if _transform_header_key(k) in signed_headers
    }
    qp = {k.lower(): v for k, v in (query_params or {}).items()}
    json_headers = json.dumps(hdrs, sort_keys=True, separators=(",", ":"))
    json_qp = (
        json.dumps(qp, sort_keys=True, separators=(",", ":")) if qp else "{}"
    )
    request_string = (
        method + "/" + path.lstrip("/") + json_headers + json_qp + body_hash
    )
    return request_string, hdrs.get("x-lbdb-date", "")


def _signature(secret: str, request_string: str, date_value: str) -> str:
    signed_request = hashlib.sha256(request_string.encode()).hexdigest()
    date = hmac.new(
        secret.encode(), date_value.encode(), hashlib.sha256
    ).hexdigest()
    service = hmac.new(
        date.encode(), b"litebase_request", hashlib.sha256
    ).hexdigest()
    return hmac.new(
        service.encode(), signed_request.encode(), hashlib.sha256
    ).hexdigest()


def sign_request(
    access_key_id: str,
    secret: str,
    method: str,
    path: str,
    headers: dict[str, str],
    data: bytes = b"",
    query_params: dict[str, str] | None = None,
) -> str:
    """Client-side signer (reference pkg/auth/request_signer.go)."""
    req, date_value = _request_string(
        method, path, headers, list(_SIGNED_HEADER_SET), query_params, data
    )
    sig = _signature(secret, req, date_value)
    token = (
        f"credential={access_key_id};"
        f"signed_headers={','.join(_SIGNED_HEADER_SET)};"
        f"signature={sig}"
    )
    return base64.b64encode(token.encode()).decode()


def parse_request_token(header: str) -> dict[str, str] | None:
    """Decode the base64 token (reference pkg/auth/request_token.go
    CaptureRequestToken): every ';' part must be exactly key=value, and
    credential / signed_headers / signature must all be present."""
    try:
        raw = base64.b64decode(header, validate=True).decode()
    except (ValueError, UnicodeDecodeError):
        return None
    token: dict[str, str] = {}
    for part in raw.split(";"):
        kv = part.split("=")
        if len(kv) != 2:
            return None
        token[kv[0]] = kv[1]
    if not all(
        k in token for k in ("credential", "signed_headers", "signature")
    ):
        return None
    return token


def validate_signed_request(
    keys,
    header: str | None,
    method: str,
    path: str,
    headers: dict[str, str],
    body: bytes,
    query_params: dict[str, str] | None = None,
    max_age_seconds: int = SIGNATURE_MAX_AGE_SECONDS,
) -> "AccessKey | None":
    """Server-side validator (reference
    pkg/http/request_signature_validator.go + the middleware's expiry
    check). Returns the authenticated AccessKey or None."""
    if not header:
        return None
    token = parse_request_token(header)
    if token is None:
        return None
    key = keys.get(token["credential"])
    if key is None:
        return None
    req, date_value = _request_string(
        method,
        path,
        headers,
        [h.strip() for h in token["signed_headers"].split(",")],
        query_params,
        body,
    )
    expect = _signature(key.secret, req, date_value)
    if not hmac.compare_digest(expect, token["signature"]):
        return None
    # expiry: X-Lbdb-Date is unix seconds; now - then < max_age
    try:
        then = int(date_value)
    except (TypeError, ValueError):
        return None
    if time.time() - then >= max_age_seconds:
        return None
    return key


# -- JSON encoding of engine results ----------------------------------------


def _json_value(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    return v


def _json_rows(df) -> list[dict]:
    return [
        {k: _json_value(v) for k, v in r.asDict().items()}
        for r in df.collect()
    ]


def result_envelope(qid, res) -> dict:
    return {
        "id": qid,
        "columns": res.columns,
        "rows": [[_json_value(v) for v in row] for row in res.rows],
        "row_count": res.row_count,
        "changes": res.changes,
        "latency": res.latency,
        "statement_class": res.statement_class,
    }


def _blob(v) -> bytes:
    # JSON carries BLOBs base64-encoded; the binary wire path
    # (wire.decode_parameter) already yields raw bytes
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return base64.b64decode(v)


# query_input.go parameter types -> python bind
_PARAM_TYPES = {
    "NULL": lambda v: None,
    "INTEGER": int,
    "FLOAT": float,
    "REAL": float,
    "TEXT": str,
    "BLOB": _blob,
}


def decode_parameters(params: list[dict] | None):
    """Typed wire parameters -> python binds (query_input.go types). A
    type outside _PARAM_TYPES, or a value its type cannot hold, raises
    ValueError; nothing is bound as text by default."""
    if not params:
        return None
    if not isinstance(params, list):
        raise ValueError("parameters must be a list")
    out = []
    for i, p in enumerate(params, 1):
        if not isinstance(p, dict):
            raise ValueError(f"parameter {i} must be an object")
        t = str(p.get("type") or "TEXT").upper()
        if t not in _PARAM_TYPES:
            raise ValueError(f"parameter {i}: unsupported type {t}")
        try:
            out.append(_PARAM_TYPES[t](p.get("value")))
        except (TypeError, ValueError):
            raise ValueError(
                f"parameter {i}: {p.get('value')!r} is not a valid {t}"
            ) from None
    return out


# -- the statement path ------------------------------------------------------


class Refusal(Exception):
    """A request the server answers with an HTTP error status; str() is
    the message."""

    def __init__(self, status: int, message: str) -> None:
        super().__init__(message)
        self.status = status


_LOCKED_CLASSES = ("DML", "DDL", "MAINT", "TCL")


@dataclass
class PreparedStatement:
    """One query input, checked and decoded for QueryServer.execute."""

    statement: str
    params: list | None
    transaction_id: str | None
    timeout: float | None  # seconds; None runs unbounded
    locked: bool  # runs under the single-writer lock


def prepare_statement(key: AccessKey, resource: str, q) -> PreparedStatement:
    """The per-statement checks shared by the batch, NDJSON and binary
    query routes. A query that is not an object, lacks a statement or
    needs a privilege the key lacks raises Refusal (400 / 403); a
    malformed parameter or timeout_ms raises ValueError. Writes and
    every statement inside a transaction take the single-writer lock."""
    if not isinstance(q, dict):
        raise Refusal(400, "Each query must be a JSON object.")
    stmt = q.get("statement")
    if not stmt or not isinstance(stmt, str):
        raise Refusal(400, "The SQL statement field is required.")
    priv = required_privilege(stmt)
    if not key.allows(resource, priv):
        raise Refusal(403, f"forbidden: requires {priv}")
    params = decode_parameters(q.get("parameters"))
    # per-query busy_timeout analog (connection busy_timeout 5000 ms,
    # database_connection.go:52)
    tmo = q.get("timeout_ms")
    try:
        timeout = float(tmo) / 1000.0 if tmo else None
    except (TypeError, ValueError):
        raise ValueError(f"timeout_ms must be a number, not {tmo!r}") from None
    txn = q.get("transaction_id") or None
    locked = txn is not None or classify_statement(stmt) in _LOCKED_CLASSES
    return PreparedStatement(stmt, params, txn, timeout, locked)


# -- routes ------------------------------------------------------------------
#
# Every route is declared once in ROUTES: method, path template, the
# grants that admit it and the Handler method that serves it. A grant is
# a (resource template, privilege) pair filled from the path parameters;
# any one of a route's grants admits the request. `grants=None` is an
# open route, `()` admits any authenticated key. `_dispatch` does the
# rest once per request: 401, the route's 403 and the JSON body (400 if
# it is not an object). An unmatched path is authenticated before its
# 404.


class Route(NamedTuple):
    method: str
    template: str
    grants: tuple | None
    handler: str


# table report -> (Engine method, text params, positive-int params)
_REPORTS = {
    "card": ("dataset_card",
             ("source_col", "lang_col", "text_col", "chars_col"), ()),
    "compaction-plan": ("compaction_plan",
                        (), ("rows_per_file", "target_bytes")),
    "drift-report": ("drift_report",
                     ("value_col", "ts_col", "split", "cols"), ()),
}

# a path parameter matches one segment unless named here
_PARAM_PATTERNS = {
    "table": r"[A-Za-z_][A-Za-z0-9_]*",
    "report": "|".join(map(re.escape, _REPORTS)),
}

_DB = "/v1/databases/{db}"
_BR = "/v1/databases/{db}/{branch}"
_BRANCH = "database:{db}:branch:{branch}"
_SELECT = ((_BRANCH, "database:select"),)
_QUERY = ((_BRANCH, "database:query"),)
_TXN = ((_BRANCH, "database:transaction"),)
_MANAGE = ((_BRANCH, "database:manage"),)
_DATABASES = (("*", "database:manage"),)
_ACCESS_KEYS = (("*", "access-key:manage"),)
_CLUSTER = (("*", "cluster:manage"),)

ROUTES = (  # reference pkg/http/routes.go
    Route("GET", "/health", None, "_health"),
    Route("GET", "/v1/status", (), "_status"),
    Route("GET", "/v1/databases", _DATABASES, "_database_list"),
    Route("POST", "/v1/databases", _DATABASES, "_database_create"),
    Route("GET", _DB, _DATABASES, "_database_show"),
    Route("DELETE", _DB, _DATABASES, "_database_delete"),
    Route("POST", _DB + "/branches",
          (("database:{db}:branch:main", "database:manage"),),
          "_branch_create"),
    Route("GET", _BR, _SELECT + _DATABASES, "_branch_show"),
    Route("POST", _BR + "/query", _QUERY, "_query"),
    Route("POST", _BR + "/query/stream", _QUERY, "_query_stream"),
    Route("GET", _BR + "/metrics/query", _SELECT, "_metrics"),
    Route("GET", _BR + "/tables/{table}/{report}", _SELECT, "_table_report"),
    Route("POST", _BR + "/transactions", _TXN, "_txn_begin"),
    Route("POST", _BR + "/transactions/{txn}/commit", _TXN, "_txn_commit"),
    Route("DELETE", _BR + "/transactions/{txn}", _TXN, "_txn_rollback"),
    Route("GET", _BR + "/snapshots", _MANAGE, "_snapshot_list"),
    Route("POST", _BR + "/snapshots", _MANAGE, "_snapshot_create"),
    Route("GET", _BR + "/snapshots/{snapshot}", _MANAGE, "_snapshot_show"),
    Route("GET", _BR + "/backups", _MANAGE, "_backup_list"),
    Route("POST", _BR + "/backups", _MANAGE, "_backup_create"),
    Route("GET", _BR + "/backups/{backup}", _MANAGE, "_backup_show"),
    Route("DELETE", _BR + "/backups/{backup}", _MANAGE, "_backup_delete"),
    Route("POST", _BR + "/restore", _MANAGE, "_restore"),
    Route("GET", "/v1/access-keys", _ACCESS_KEYS, "_key_list"),
    Route("POST", "/v1/access-keys", _ACCESS_KEYS, "_key_create"),
    Route("GET", "/v1/access-keys/{key_id}", _ACCESS_KEYS, "_key_show"),
    Route("PUT", "/v1/access-keys/{key_id}", _ACCESS_KEYS, "_key_update"),
    Route("DELETE", "/v1/access-keys/{key_id}", _ACCESS_KEYS, "_key_delete"),
    Route("POST", "/v1/keys", _CLUSTER, "_ekey_store"),
    Route("POST", "/v1/keys/activate", _CLUSTER, "_ekey_activate"),
    Route("GET", "/v1/users", _CLUSTER, "_user_list"),
    Route("POST", "/v1/users", _CLUSTER, "_user_create"),
    Route("GET", "/v1/users/{username}", _CLUSTER, "_user_show"),
    Route("PUT", "/v1/users/{username}", _CLUSTER, "_user_update"),
    Route("DELETE", "/v1/users/{username}", _CLUSTER, "_user_delete"),
)


def _path_regex(template: str) -> re.Pattern:
    return re.compile("^" + re.sub(
        r"\{(\w+)\}",
        lambda m: f"(?P<{m[1]}>{_PARAM_PATTERNS.get(m[1], '[^/]+')})",
        template,
    ) + "$")


_ROUTE_REGEX = [(r, _path_regex(r.template)) for r in ROUTES]


def match_route(method: str, path: str):
    """(Route, path parameters) of the route serving a request, or
    (None, None)."""
    for route, rx in _ROUTE_REGEX:
        m = rx.match(path) if route.method == method else None
        if m:
            return route, m.groupdict()
    return None, None


def _grants(items) -> list[AccessKeyStatement]:
    """A request's `statements` list -> grants."""
    if not isinstance(items, list) or not all(
        isinstance(s, dict) for s in items
    ):
        raise Refusal(400, "statements must be a list of objects")
    return [
        AccessKeyStatement(
            resources=s.get("resources", []),
            privileges=s.get("privileges", []),
        )
        for s in items
    ]


def _is_binary(headers) -> bool:
    """Content negotiation on the stream route: the reference's binary
    frame protocol on application/octet-stream, NDJSON otherwise."""
    ctype = (headers.get("Content-Type") or "").lower()
    return ctype.startswith("application/octet-stream")


# -- server ------------------------------------------------------------------


class QueryServer:
    """Threaded HTTP server over one Engine, whose VersionedStore backs
    the snapshot, branch, backup and restore routes. Start with
    serve_forever in a thread; `port` 0 picks an ephemeral port (see
    tests)."""

    def __init__(
        self,
        engine: Engine,
        keys: AccessKeyManager,
        host: str = "127.0.0.1",
        port: int = 0,
        users: UserManager | None = None,
        encryption_key: str | None = None,
    ) -> None:
        self.engine = engine
        self.keys = keys
        self.users = users or UserManager()
        self.store = engine.store
        # encryption-key rotation state (reference key_controller.go +
        # key_activate_controller.go): the active key signs the next
        # one in; NEXT keys are stored INACTIVE and must be activated
        # via /v1/keys/activate before they take effect
        self.encryption_key = encryption_key or os.urandom(16).hex()
        self.pending_keys: set[str] = set()
        # Rotation state is touched from handler threads; key_lock makes
        # store-signature-check + activate-swap atomic w.r.t. each other.
        self.key_lock = threading.Lock()
        self.write_lock = threading.Lock()  # driver = single writer
        self.started_at = time.time()
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, body: dict) -> None:
                data = json.dumps(body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _ok(self, data, code: int = 200) -> None:
                self._send(code, {"status": "success", "data": data})

            def _error(self, code: int, message: str) -> None:
                self._send(code, {"status": "error", "message": message})

            def _auth(self) -> AccessKey | None:
                h = self.headers.get("Authorization")
                key = server.keys.authenticate(h)
                if key is not None:
                    return key
                key = server.users.authenticate(h)
                if key is not None:
                    return key
                # HMAC-signed request token (the reference's primary
                # scheme; no Bearer prefix — the header IS the base64
                # token)
                if h and not h.startswith("Bearer "):
                    parsed = urlparse(self.path)
                    qp = {
                        k.lower(): v[0]
                        for k, v in parse_qs(parsed.query).items()
                    }
                    return validate_signed_request(
                        server.keys,
                        h,
                        self.command,
                        parsed.path,
                        dict(self.headers.items()),
                        self._raw(),
                        qp,
                    )
                return None

            def handle_one_request(self):  # noqa: N802 (stdlib API)
                # _raw_cache is per-REQUEST: drop it before parsing the
                # next one so enabling keep-alive can never replay a
                # previous request's body (today protocol_version stays
                # at the HTTP/1.0 default — one request per connection —
                # so this is future-proofing, not a live bug)
                self.__dict__.pop("_raw_cache", None)
                super().handle_one_request()

            def _raw(self) -> bytes:
                if not hasattr(self, "_raw_cache"):
                    n = int(self.headers.get("Content-Length") or 0)
                    self._raw_cache = self.rfile.read(n) if n else b""
                return self._raw_cache

            def _dispatch(self) -> None:
                url = urlparse(self.path)
                route, args = match_route(self.command, url.path)
                key = None
                if route is None or route.grants is not None:
                    key = self._auth()
                    if key is None:
                        return self._error(401, "invalid access key")
                if route is None:
                    return self._send(404, {"status": "error"})
                if route.grants and not any(
                    key.allows(res.format(**args), priv)
                    for res, priv in route.grants
                ):
                    return self._error(403, "forbidden")
                body = {}
                if not _is_binary(self.headers):  # binary bodies stream
                    try:
                        body = json.loads(self._raw() or b"{}")
                    except ValueError:
                        body = None
                    if not isinstance(body, dict):
                        return self._error(400, "invalid input")
                r = SimpleNamespace(
                    key=key, body=body,
                    query={k: v[0] for k, v in parse_qs(url.query).items()},
                    **args,
                )
                try:
                    return getattr(self, route.handler)(r)
                except Refusal as e:
                    return self._error(e.status, str(e))
                except AnalysisException as e:  # e.g. an invalid name
                    return self._error(400, str(e))

            do_GET = do_POST = do_PUT = do_DELETE = _dispatch  # noqa: N815

            # -- cluster, databases and branches ------------------------

            def _health(self, r):
                return self._send(200, {"status": "ok"})

            def _status(self, r):
                # ClusterStatusController analog (routes.go:9-15):
                # single-driver deployment reports itself as primary
                return self._ok({
                    "role": "primary",
                    "databases": len(
                        server.engine.spark.catalog.listDatabases()
                    ),
                    "queries_served": server.engine.metrics.total_count(),
                    "uptime_s": round(time.time() - server.started_at, 3),
                    "store_root": server.store.root,
                })

            def _database_list(self, r):
                return self._ok(sorted(
                    d.name for d in server.engine.spark.catalog.listDatabases()
                ))

            def _database_create(self, r):
                name = r.body.get("name")
                if not name:
                    return self._error(400, "name is required")
                with server.write_lock:
                    server.engine.create_database(name)
                return self._ok({"database": name}, 201)

            def _database_show(self, r):
                # DatabaseControllerShow: branches + tables of one db
                cat = server.engine.spark.catalog
                dbs = {d.name for d in cat.listDatabases()}
                tables = sorted(t.name for t in cat.listTables(
                    r.db if r.db in dbs else None))
                return self._ok({
                    "database": r.db, "branches": server.store.namespaces(),
                    "tables": tables,
                })

            def _database_delete(self, r):
                with server.write_lock:
                    server.engine.drop_database(r.db)
                return self._send(200, {"status": "success"})

            def _branch_create(self, r):
                name = r.body.get("name")
                if not isinstance(name, str) or not re.fullmatch(
                        r"[A-Za-z0-9_-]+", name):
                    return self._error(400, "name must be [A-Za-z0-9_-]+")
                source = r.body.get("source", "main")
                if source not in server.store.namespaces():
                    return self._error(404, "no such source branch")
                try:
                    tables = server.store.create_branch(name, source=source)
                except FileExistsError as e:
                    return self._error(409, str(e))
                return self._ok({"branch": name, "tables": tables}, 201)

            def _branch_show(self, r):
                # branch detail: main is the session catalog; another
                # branch lists its store namespace's tables
                if r.branch not in server.store.namespaces():
                    return self._error(404, "no such branch")
                tables = (
                    sorted(t.name for t in
                           server.engine.spark.catalog.listTables())
                    if r.branch == "main" else server.store.tables(r.branch)
                )
                return self._ok({
                    "database": r.db, "branch": r.branch, "tables": tables,
                })

            # -- read-only introspection --------------------------------

            def _metrics(self, r):
                if "from" in r.query or "to" in r.query:
                    # windowed bucketed log (reference QueryLogController
                    # reads the flushed query log with a time range)
                    try:
                        start, end = (
                            float(r.query[k]) if k in r.query else None
                            for k in ("from", "to")
                        )
                    except ValueError:
                        return self._error(400, "from and to are unix seconds")
                    return self._ok(server.engine.metrics.log_entries(
                        start=start, end=end
                    ))
                return self._ok(_json_rows(server.engine.query_metrics()))

            def _table_report(self, r):
                # ops-parity introspection for corpus tables: the dataset
                # card (datasheet rollup), the OPTIMIZE bin-packing plan
                # and the fused drift report
                method, texts, ints = _REPORTS[r.report]
                try:
                    kw = {k: v for k, v in r.query.items() if k in texts}
                    for k in ints:
                        if k in r.query:
                            kw[k] = int(r.query[k])
                            if kw[k] <= 0:
                                raise ValueError(
                                    f"{k} must be a positive integer"
                                )
                    rows = _json_rows(
                        getattr(server.engine, method)(r.table, **kw)
                    )
                except Exception as exc:
                    return self._error(400, str(exc)[:300])
                return self._ok(rows)

            # -- snapshots, backups, restore (reference routes.go) ------

            def _snapshot_list(self, r):
                return self._ok(server.store.list_snapshots())

            def _snapshot_create(self, r):
                snap = server.store.snapshot(
                    label=r.body.get("label", ""), namespace=r.branch
                )
                return self._ok({**snap, "tables": sorted(snap["versions"])},
                                201)

            def _snapshot_show(self, r):
                # SnapshotControllerShow (routes.go snapshots/{ts})
                try:
                    snap = server.store.snapshot_at(float(r.snapshot))
                except Exception:
                    return self._error(404, "no such snapshot")
                return self._ok(snap)

            def _backup_file(self, backup_id: str) -> str | None:
                """The archive of a backup, or None without one."""
                path = os.path.join(server.store.backups_dir,
                                    f"{backup_id}.tar.gz")
                return path if os.path.exists(path) else None

            def _backup_list(self, r):
                return self._ok(sorted(
                    f[: -len(".tar.gz")]
                    for f in os.listdir(server.store.backups_dir)
                    if f.endswith(".tar.gz")
                ))

            def _backup_create(self, r):
                backup_id = f"backup-{int(time.time() * 1e6)}"
                path = os.path.join(server.store.backups_dir,
                                    f"{backup_id}.tar.gz")
                try:
                    server.store.backup_archive(
                        path, snapshot_id=r.body.get("snapshot_id")
                    )
                except LookupError as e:
                    return self._error(400, str(e))
                return self._ok({"backup_id": backup_id}, 201)

            def _backup_show(self, r):
                # BackupControllerShow: archive metadata
                path = self._backup_file(r.backup)
                if path is None:
                    return self._error(404, "no such backup")
                st = os.stat(path)
                return self._ok({
                    "backup_id": r.backup,
                    "size_bytes": st.st_size,
                    "created_at": st.st_mtime,
                })

            def _backup_delete(self, r):
                path = self._backup_file(r.backup)
                if path is None:
                    return self._error(404, "no such backup")
                os.remove(path)
                return self._send(200, {"status": "success"})

            def _restore(self, r):
                ts = r.body.get("timestamp")
                if ts is None:
                    return self._error(400, "timestamp is required")
                try:
                    views = server.store.restore_at(
                        float(ts), view_prefix=f"{r.db}_{r.branch}_restore"
                    )
                except (LookupError, TypeError, ValueError) as e:
                    return self._error(400, str(e))
                return self._ok({"views": views})

            # -- access keys (routes.go:54-82) --------------------------

            def _key_list(self, r):
                return self._ok(server.keys.list_ids())

            def _key_create(self, r):
                kid, secret = r.body.get("access_key_id"), r.body.get("secret")
                if not kid or not secret:
                    return self._error(
                        400, "access_key_id and secret are required"
                    )
                stmts = _grants(r.body.get("statements", []))
                server.keys.store(AccessKey(kid, secret, stmts))
                return self._ok({"access_key_id": kid}, 201)

            def _key_show(self, r):
                k = server.keys.get(r.key_id)
                if k is None:
                    return self._error(404, "no such key")
                # AccessKeyControllerShow: id + statements, never the
                # secret (routes.go:62-66)
                return self._ok({
                    "access_key_id": k.access_key_id,
                    "statements": _grants_json(k.statements),
                })

            def _key_update(self, r):
                # AccessKeyControllerUpdate (routes.go:77-82): replace the
                # key's privilege statements; the secret is immutable
                k = server.keys.get(r.key_id)
                if k is None:
                    return self._error(404, "no such key")
                if not isinstance(r.body.get("statements"), list):
                    return self._error(400, "statements is required")
                k.statements = _grants(r.body["statements"])
                return self._ok({"access_key_id": r.key_id})

            def _key_delete(self, r):
                if not server.keys.revoke(r.key_id):
                    return self._error(404, "no such key")
                return self._send(200, {"status": "success"})

            # -- encryption-key rotation (reference key_controller.go /
            # key_activate_controller.go): POST /v1/keys stores the NEXT
            # key, authenticated by an HMAC signature under the CURRENT
            # key; POST /v1/keys/activate flips a stored key to active.
            # Activating a never-stored key is rejected. ----------------

            def _ekey_store(self, r):
                ek = r.body.get("encryption_key")
                sig = r.body.get("signature")
                if not ek:
                    return self._error(
                        400, "The encryption key field is required."
                    )
                if not sig:
                    return self._error(400, "The signature field is required.")
                if not isinstance(ek, str) or not isinstance(sig, str):
                    return self._error(
                        400,
                        "The encryption key and signature must be strings.",
                    )
                with server.key_lock:
                    expected = hmac.new(
                        server.encryption_key.encode(),
                        ek.encode(),
                        hashlib.sha256,
                    ).hexdigest()
                    if not hmac.compare_digest(sig, expected):
                        return self._error(403, "invalid signature")
                    server.pending_keys.add(ek)
                return self._send(200, {
                    "status": "success",
                    "message": "next encryption key stored successfully",
                    "data": {},
                })

            def _ekey_activate(self, r):
                ek = r.body.get("encryption_key")
                if not ek:
                    return self._error(
                        400, "The encryption key field is required."
                    )
                if not isinstance(ek, str):
                    return self._error(
                        400, "The encryption key must be a string."
                    )
                with server.key_lock:
                    if ek not in server.pending_keys:
                        return self._error(
                            400, "the encryption key is invalid"
                        )
                    # Activation retires every other stored candidate, so
                    # pending_keys can't grow unboundedly across rotations.
                    server.pending_keys.clear()
                    server.encryption_key = ek
                return self._send(200, {
                    "status": "success",
                    "message": "encryption key activated successfully",
                    "data": {},
                })

            # -- users (reference pkg/http/user_controller.go;
            # routes.go:17-52) -----------------------------------------

            def _user_list(self, r):
                return self._ok([u.as_response() for u in server.users.all()])

            def _user_create(self, r):
                name, pw = r.body.get("username"), r.body.get("password")
                if not (name and pw and isinstance(name, str)
                        and isinstance(pw, str)):
                    return self._error(
                        400, "username and password are required"
                    )
                if len(pw) < 8:
                    # UserControllerStoreRequest validate:"min=8"
                    return self._error(
                        400, "password must be at least 8 characters"
                    )
                u = User.create(name, pw, _grants(r.body.get("statements", [])))
                server.users.store(u)
                return self._ok(u.as_response(), 201)

            def _user_show(self, r):
                u = server.users.get(r.username)
                if u is None:
                    return self._error(404, "no such user")
                return self._ok(u.as_response())

            def _user_update(self, r):
                u = server.users.get(r.username)
                if u is None:
                    return self._error(404, "no such user")
                pw = r.body.get("password")
                if pw is not None:
                    if not isinstance(pw, str) or len(pw) < 8:
                        return self._error(
                            400, "password must be at least 8 characters"
                        )
                    u.set_password(pw)
                if r.body.get("statements") is not None:
                    u.statements = _grants(r.body["statements"])
                server.users.store(u)
                return self._ok(u.as_response())

            def _user_delete(self, r):
                if not server.users.delete(r.username):
                    return self._error(404, "no such user")
                return self._send(200, {"status": "success"})

            # -- transactions -------------------------------------------

            def _txn_begin(self, r):
                kind = str(r.body.get("kind") or "DEFERRED").upper()
                try:
                    txn = server.engine.begin(kind)
                except ValueError as e:  # not DEFERRED or IMMEDIATE
                    return self._error(400, str(e))
                return self._ok({"transaction_id": txn.transaction_id}, 201)

            def _txn(self, r):
                txn = server.engine._transactions.get(r.txn)
                if txn is None:
                    raise Refusal(404, "no such transaction")
                return txn

            def _txn_commit(self, r):
                txn = self._txn(r)
                with server.write_lock:
                    txn.commit()
                return self._send(200, {"status": "success"})

            def _txn_rollback(self, r):
                self._txn(r).rollback()
                return self._send(200, {"status": "success"})

            # -- queries: prepare_statement, then QueryServer.execute;
            # each route only encodes the results -----------------------

            def _queries(self, r) -> list:
                queries = r.body.get("queries")
                if not isinstance(queries, list) or not queries:
                    raise Refusal(400, "The queries field is required.")
                return queries

            def _query(self, r):
                """POST .../query: a batch of typed queries answered with
                one JSON envelope per query (query_controller.go). The
                first failing query answers for the whole batch."""
                resource = _BRANCH.format(db=r.db, branch=r.branch)
                out = []
                for q in self._queries(r):
                    try:
                        res = server.execute(
                            prepare_statement(r.key, resource, q)
                        )
                    except Refusal:
                        raise
                    except TimeoutError as e:
                        return self._error(408, str(e)[:500])
                    except Exception as e:
                        return self._error(400, str(e)[:500])
                    out.append(result_envelope(q.get("id"), res))
                return self._ok(out)

            def _query_stream(self, r):
                """POST .../query/stream — the reference's pipelined
                streaming protocol (pkg/http/routes.go `query/stream`,
                SURVEY §3.2): binary frames on application/octet-stream
                (_query_wire), NDJSON frames over a streamed HTTP
                response otherwise.

                NDJSON frames, one JSON object per line, flushed as
                produced:
                  {"id", "type": "columns", "columns": [...]}
                  {"id", "type": "rows", "rows": [[...], ...]}   (batches)
                  {"id", "type": "end", "row_count", "changes", "latency"}
                  {"id", "type": "error", "message"}             (aborts)

                Every query is prepared before the response starts, so a
                Refusal (missing statement, missing privilege) answers
                the request with its status; a malformed parameter is
                that query's error frame. An untimed read outside a
                transaction streams through `Engine.stream`
                (toLocalIterator, partition by partition, never collected
                server-side). Every other statement is collected by
                QueryServer.execute: writes and transactional statements
                run under the single-writer lock, and a timed statement
                needs its jobs on the handler thread, where the engine's
                job-group watchdog can cancel them (toLocalIterator
                serves jobs from its own thread). A statement error emits
                an error frame and aborts the remaining pipeline, the
                reference's fail-fast stream semantics."""
                if _is_binary(self.headers):
                    return self._query_wire(r)
                resource = _BRANCH.format(db=r.db, branch=r.branch)
                prepared = []
                for q in self._queries(r):
                    try:
                        prepared.append(prepare_statement(r.key, resource, q))
                    except ValueError as e:
                        prepared.append(e)
                self.send_response(200)
                self.send_header("Content-Type", "application/x-ndjson")
                self.send_header("Connection", "close")
                self.end_headers()

                def frame(qid, kind, **fields) -> bool:
                    try:
                        self.wfile.write((json.dumps(
                            {"id": qid, "type": kind, **fields}
                        ) + "\n").encode())
                        self.wfile.flush()
                        return True
                    except (BrokenPipeError, ConnectionError):
                        return False  # client went away: stop producing

                for q, st in zip(r.body["queries"], prepared):
                    qid = q.get("id")
                    try:
                        if isinstance(st, Exception):
                            raise st
                        if st.locked or st.timeout is not None:
                            res = server.execute(st)
                        else:
                            res = server.engine.stream(st.statement, st.params)
                        if not frame(qid, "columns", columns=res.columns):
                            return
                        batch = []
                        for row in res.rows:
                            batch.append([_json_value(v) for v in row])
                            if len(batch) >= 256:
                                if not frame(qid, "rows", rows=batch):
                                    return
                                batch = []
                        if batch and not frame(qid, "rows", rows=batch):
                            return
                        if not frame(qid, "end", row_count=res.row_count,
                                     changes=res.changes,
                                     latency=res.latency):
                            return
                    except Exception as e:
                        frame(qid, "error", message=str(e)[:500])
                        return  # fail-fast: abort the remaining pipeline

            def _query_wire(self, r):
                """The reference's length-prefixed binary frame protocol
                (litebase_spark/wire.py documents the byte layout). The
                handler reads [type][len][payload] messages off the
                request body as they arrive and writes response frames
                as they complete — the duplex pipelining of the
                reference's EnableFullDuplex stream controller: OPEN
                answers 'connected', each FRAME of query inputs answers a
                FRAME of per-query [FRAME_ENTRY|ERROR] response envelopes
                (typed columns, v1 version byte), CLOSE or EOF ends the
                stream. Each response is collected before it is framed:
                the envelope's row_count precedes its rows."""
                resource = _BRANCH.format(db=r.db, branch=r.branch)
                self.send_response(200)
                self.send_header("Content-Type", "application/octet-stream")
                self.send_header("Connection", "close")
                self.end_headers()
                self.connection.settimeout(60)
                while True:
                    try:
                        msg = wire.read_message(self.rfile.read)
                    except (ValueError, OSError):
                        return
                    if msg is None or msg[0] == wire.MSG_CLOSE:
                        return
                    mtype, payload = msg
                    if mtype == wire.MSG_OPEN:
                        reply = wire.encode_message(wire.MSG_OPEN, b"connected")
                    elif mtype == wire.MSG_FRAME:
                        reply = wire.encode_message(wire.MSG_FRAME, b"".join(
                            self._wire_entry(r.key, resource, qbytes)
                            for qbytes in wire.iter_frame_queries(payload)
                        ))
                    else:
                        continue  # unknown types are skipped, like the
                        # reference's default branch
                    try:
                        self.wfile.write(reply)
                        self.wfile.flush()
                    except (BrokenPipeError, ConnectionError):
                        return

            def _wire_entry(self, key, resource, qbytes: bytes) -> bytes:
                """One query input -> its [FRAME_ENTRY|ERROR] entry."""
                resp = wire.WireResponse()
                etype = wire.MSG_FRAME_ENTRY
                t0 = time.perf_counter()
                try:
                    q = wire.decode_query_input(qbytes)
                    resp.id = q["id"]
                    resp.transaction_id = q["transaction_id"]
                    res = server.execute(prepare_statement(key, resource, q))
                    resp.changes = res.changes or 0
                    resp.latency = res.latency
                    resp.columns = list(res.columns)
                    resp.rows = [list(row) for row in res.rows]
                    resp.row_count = len(resp.rows)
                except Exception as e:
                    etype = wire.MSG_ERROR
                    resp.error = str(e)[:500] or "error"
                    resp.latency = time.perf_counter() - t0
                enc = wire.encode_query_response(resp)
                return bytes([etype]) + len(enc).to_bytes(4, "little") + enc

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]

    def execute(self, st: PreparedStatement):
        """Run one prepared statement, collected; `st.locked` statements
        hold the single-writer lock."""
        with self.write_lock if st.locked else contextlib.nullcontext():
            return self.engine.sql(
                st.statement, st.params,
                transaction_id=st.transaction_id, timeout=st.timeout,
            )

    def start(self) -> threading.Thread:
        t = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        t.start()
        return t

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

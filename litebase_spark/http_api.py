"""HTTP query API with access-key authorization (the reference's primary
user surface, re-expressed over Engine).

Reference parity (behavioral, not structural):
  * routes — POST /v1/databases/{db}/{branch}/query (batch of typed
    queries), POST .../query/stream (pipelined NDJSON frames; SELECT
    results stream via toLocalIterator, never collected server-side),
    GET .../metrics/query, POST .../transactions,
    POST .../transactions/{id}/commit, DELETE .../transactions/{id}
    (pkg/http/routes.go:252-303);
  * request shape — {"queries": [{id, statement, parameters,
    transaction_id?}]} with typed parameters TEXT/INTEGER/FLOAT/NULL/
    BLOB (pkg/http/query_controller.go:11-141,
    pkg/database/query_input.go:28-32);
  * authorization — access keys carry statements granting privileges on
    database:branch resources (pkg/auth/database_privileges.go:4-45);
    per-statement-class privilege checks (select/insert/update/delete/
    pragma/...) gate execution;
  * single-writer — the Spark driver is the write path (the reference
    forwards writes to the primary); a lock serializes write statements.

Implementation is stdlib http.server (no external deps in this
environment); authentication accepts BOTH the reference's HMAC-signed
request tokens (pkg/auth/request_signer.go scheme: signature over
method + path + signed headers + query params + body hash, chained
hmac-sha256 through the X-Lbdb-Date value, 10 s replay window —
sign_request / validate_signed_request below) AND a
`Bearer <key_id>:<secret>` compat fallback. The ACL model
(resources x privileges) gates every statement either way. For
production swap the transport; Engine and the ACLs are the surface.
"""

from __future__ import annotations

import base64
import datetime as dt
import decimal
import hashlib
import hmac
import json
import os
import re
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

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
            "statements": [
                {"resources": s.resources, "privileges": s.privileges}
                for s in self.statements
            ],
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
    import time as _time

    if _time.time() - then >= max_age_seconds:
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


def decode_parameters(params: list[dict] | None):
    """Typed wire parameters -> python binds (query_input.go types)."""
    if not params:
        return None
    out = []
    for p in params:
        t = (p.get("type") or "TEXT").upper()
        v = p.get("value")
        if t == "NULL":
            out.append(None)
        elif t == "INTEGER":
            out.append(int(v))
        elif t in ("FLOAT", "REAL"):
            out.append(float(v))
        elif t == "BLOB":
            # JSON carries BLOBs base64-encoded; the binary wire path
            # (wire.decode_parameter) already yields raw bytes — pass
            # those through untouched.
            if isinstance(v, (bytes, bytearray)):
                out.append(bytes(v))
            else:
                out.append(base64.b64decode(v))
        else:
            out.append(str(v))
    return out


# -- server ------------------------------------------------------------------

_QUERY_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/query$")
_QSTREAM_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/query/stream$")
_METRICS_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/metrics/query$")
_CARD_RE = re.compile(
    r"^/v1/databases/([^/]+)/([^/]+)/tables/([A-Za-z_][A-Za-z0-9_]*)/card$"
)
_COMPACTION_RE = re.compile(
    r"^/v1/databases/([^/]+)/([^/]+)/tables/([A-Za-z_][A-Za-z0-9_]*)"
    r"/compaction-plan$"
)
_DRIFT_RE = re.compile(
    r"^/v1/databases/([^/]+)/([^/]+)/tables/([A-Za-z_][A-Za-z0-9_]*)"
    r"/drift-report$"
)
_SNAP_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/snapshots$")
_SNAP_ID_RE = re.compile(
    r"^/v1/databases/([^/]+)/([^/]+)/snapshots/([^/]+)$"
)
_STATUS_RE = re.compile(r"^/v1/status$")
_BRANCH_SHOW_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)$")
_BACKUP_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/backups$")
_BACKUP_ID_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/backups/([^/]+)$")
_RESTORE_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/restore$")
_BRANCH_RE = re.compile(r"^/v1/databases/([^/]+)/branches$")
_DBS_RE = re.compile(r"^/v1/databases$")
_DB_RE = re.compile(r"^/v1/databases/([^/]+)$")
_KEYS_RE = re.compile(r"^/v1/access-keys$")
_EKEYS_RE = re.compile(r"^/v1/keys$")
_EKEY_ACT_RE = re.compile(r"^/v1/keys/activate$")
_KEY_ID_RE = re.compile(r"^/v1/access-keys/([^/]+)$")
_USERS_RE = re.compile(r"^/v1/users$")
_USER_ID_RE = re.compile(r"^/v1/users/([^/]+)$")
_TXN_RE = re.compile(r"^/v1/databases/([^/]+)/([^/]+)/transactions$")
_TXN_ID_RE = re.compile(
    r"^/v1/databases/([^/]+)/([^/]+)/transactions/([^/]+)(/commit)?$"
)


class QueryServer:
    """Threaded HTTP server over one Engine. Start with serve_forever in
    a thread; `port` 0 picks an ephemeral port (see tests)."""

    def __init__(
        self,
        engine: Engine,
        keys: AccessKeyManager,
        host: str = "127.0.0.1",
        port: int = 0,
        store=None,  # VersionedStore: enables snapshot/backup/restore routes
        users: UserManager | None = None,
        encryption_key: str | None = None,
    ) -> None:
        self.engine = engine
        self.keys = keys
        self.users = users or UserManager()
        self.store = store
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
        import time as _time

        self.started_at = _time.time()
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
                    from urllib.parse import parse_qs, urlparse

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

            def _body(self) -> dict:
                return json.loads(self._raw() or b"{}")

            def do_GET(self):  # noqa: N802 (stdlib API)
                from urllib.parse import parse_qs, urlparse

                parsed = urlparse(self.path)
                if parsed.path == "/health":
                    return self._send(200, {"status": "ok"})
                if _STATUS_RE.match(parsed.path):
                    # ClusterStatusController analog (routes.go:9-15):
                    # single-driver deployment reports itself as primary
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    import time as _time

                    n_dbs = len(
                        server.engine.spark.catalog.listDatabases()
                    )
                    return self._send(200, {"status": "success", "data": {
                        "role": "primary",
                        "databases": n_dbs,
                        "queries_served": server.engine.metrics.total_count(),
                        "uptime_s": round(
                            _time.time() - server.started_at, 3
                        ),
                        "versioned_store": server.store is not None,
                    }})
                m = _METRICS_RE.match(parsed.path)
                if m:
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    resource = f"database:{m.group(1)}:branch:{m.group(2)}"
                    if not key.allows(resource, "database:select"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    qs = parse_qs(parsed.query)
                    if "from" in qs or "to" in qs:
                        # windowed bucketed log (reference QueryLogController
                        # reads the flushed query log with a time range)
                        data = server.engine.metrics.log_entries(
                            start=float(qs["from"][0]) if "from" in qs else None,
                            end=float(qs["to"][0]) if "to" in qs else None,
                        )
                    else:
                        data = [
                            {k: _json_value(v) for k, v in r.asDict().items()}
                            for r in server.engine.query_metrics().collect()
                        ]
                    return self._send(
                        200, {"status": "success", "data": data}
                    )
                m = (
                    _CARD_RE.match(parsed.path)
                    or _COMPACTION_RE.match(parsed.path)
                    or _DRIFT_RE.match(parsed.path)
                )
                if m:
                    # ops-parity introspection for corpus tables: the
                    # dataset card (datasheet rollup), the OPTIMIZE
                    # bin-packing plan, and the fused drift report,
                    # served like metrics — read-only, database:select
                    # scoped
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    resource = f"database:{m.group(1)}:branch:{m.group(2)}"
                    if not key.allows(resource, "database:select"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    is_card = _CARD_RE.match(parsed.path) is not None
                    is_drift = _DRIFT_RE.match(parsed.path) is not None
                    qs = parse_qs(parsed.query)
                    try:
                        # parse params inside the error envelope: a
                        # malformed or non-positive int (e.g.
                        # ?target_bytes=abc, =0) must come back as a
                        # 400 body, not a ValueError out of do_GET
                        kw = {}
                        for k, vs in qs.items():
                            if is_card and k in (
                                "source_col", "lang_col", "text_col",
                                "chars_col",
                            ):
                                kw[k] = vs[0]
                            elif is_drift and k in (
                                "value_col", "ts_col", "split", "cols",
                            ):
                                kw[k] = vs[0]
                            elif not is_card and not is_drift and k in (
                                "rows_per_file", "target_bytes",
                            ):
                                kw[k] = int(vs[0])
                                if kw[k] <= 0:
                                    raise ValueError(
                                        f"{k} must be a positive integer"
                                    )
                        fn = (
                            server.engine.dataset_card
                            if is_card
                            else server.engine.drift_report
                            if is_drift
                            else server.engine.compaction_plan
                        )
                        rows = fn(m.group(3), **kw).collect()
                    except Exception as exc:
                        return self._send(
                            400,
                            {"status": "error", "message": str(exc)[:300]},
                        )
                    return self._send(200, {"status": "success", "data": [
                        {k: _json_value(v) for k, v in r.asDict().items()}
                        for r in rows
                    ]})
                m = _SNAP_RE.match(parsed.path)
                if m:
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not self._manage_ok(key, m.group(1), m.group(2)):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    if server.store is None:
                        return self._send(503, {"status": "error", "message": "no versioned store attached"})
                    return self._send(200, {"status": "success", "data": server.store.list_snapshots()})
                m = _BACKUP_RE.match(parsed.path)
                if m:
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not self._manage_ok(key, m.group(1), m.group(2)):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    return self._send(200, {"status": "success", "data": self._backup_list()})
                if _KEYS_RE.match(parsed.path):
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not key.allows("*", "access-key:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    return self._send(200, {"status": "success", "data": server.keys.list_ids()})
                m = _KEY_ID_RE.match(parsed.path)
                if m:
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not key.allows("*", "access-key:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    k = server.keys._keys.get(m.group(1))
                    if k is None:
                        return self._send(404, {"status": "error", "message": "no such key"})
                    # AccessKeyControllerShow: id + statements, never the
                    # secret (routes.go:62-66)
                    return self._send(200, {"status": "success", "data": {
                        "access_key_id": k.access_key_id,
                        "statements": [
                            {"resources": s.resources,
                             "privileges": s.privileges}
                            for s in k.statements
                        ],
                    }})
                if _DBS_RE.match(parsed.path):
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not key.allows("*", "database:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    names = sorted(
                        d.name
                        for d in server.engine.spark.catalog.listDatabases()
                    )
                    return self._send(200, {"status": "success", "data": names})
                if _USERS_RE.match(parsed.path):
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not key.allows("*", "cluster:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    return self._send(200, {"status": "success", "data": [
                        u.as_response() for u in server.users.all()
                    ]})
                m = _USER_ID_RE.match(parsed.path)
                if m:
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not key.allows("*", "cluster:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    u = server.users.get(m.group(1))
                    if u is None:
                        return self._send(404, {"status": "error", "message": "no such user"})
                    return self._send(200, {"status": "success", "data": u.as_response()})
                m = _SNAP_ID_RE.match(parsed.path)
                if m:
                    # SnapshotControllerShow (routes.go snapshots/{ts})
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not self._manage_ok(key, m.group(1), m.group(2)):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    if server.store is None:
                        return self._send(503, {"status": "error", "message": "no versioned store attached"})
                    try:
                        snap = server.store.snapshot_at(float(m.group(3)))
                    except Exception:
                        return self._send(404, {"status": "error", "message": "no such snapshot"})
                    return self._send(200, {"status": "success", "data": snap})
                m = _BACKUP_ID_RE.match(parsed.path)
                if m:
                    # BackupControllerShow: archive metadata
                    import os as _os

                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not self._manage_ok(key, m.group(1), m.group(2)):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    if server.store is None:
                        return self._send(404, {"status": "error", "message": "no such backup"})
                    path = _os.path.join(
                        self._backup_dir(), f"{m.group(3)}.tar.gz"
                    )
                    if not _os.path.exists(path):
                        return self._send(404, {"status": "error", "message": "no such backup"})
                    st = _os.stat(path)
                    return self._send(200, {"status": "success", "data": {
                        "backup_id": m.group(3),
                        "size_bytes": st.st_size,
                        "created_at": st.st_mtime,
                    }})
                m = _DB_RE.match(parsed.path)
                if m:
                    # DatabaseControllerShow: branches + tables of one db
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    if not key.allows("*", "database:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    db = m.group(1)
                    cat = server.engine.spark.catalog
                    all_dbs = {d.name for d in cat.listDatabases()}
                    branches = ["main"] + sorted(
                        n.split("__", 1)[1]
                        for n in all_dbs
                        if n.startswith(f"{db}__")
                    )
                    try:
                        ns = db if db in all_dbs else None
                        tables = sorted(
                            t.name
                            for t in (
                                cat.listTables(ns)
                                if ns else cat.listTables()
                            )
                        )
                    except Exception:
                        tables = []
                    return self._send(200, {"status": "success", "data": {
                        "database": db,
                        "branches": branches,
                        "tables": tables,
                    }})
                m = _BRANCH_SHOW_RE.match(parsed.path)
                if m:
                    # branch detail: tables in the branch namespace (main
                    # = the session catalog; others = db__branch)
                    key = self._auth()
                    if key is None:
                        return self._send(401, {"status": "error", "message": "invalid access key"})
                    db, branch = m.group(1), m.group(2)
                    if not key.allows(
                        f"database:{db}:branch:{branch}", "database:select"
                    ) and not key.allows("*", "database:manage"):
                        return self._send(403, {"status": "error", "message": "forbidden"})
                    cat = server.engine.spark.catalog
                    all_dbs = {d.name for d in cat.listDatabases()}
                    ns = f"{db}__{branch}"
                    try:
                        if branch == "main":
                            tables = sorted(
                                t.name for t in cat.listTables()
                            )
                        elif ns in all_dbs:
                            tables = sorted(
                                t.name for t in cat.listTables(ns)
                            )
                        else:
                            return self._send(404, {"status": "error", "message": "no such branch"})
                    except Exception:
                        tables = []
                    return self._send(200, {"status": "success", "data": {
                        "database": db,
                        "branch": branch,
                        "tables": tables,
                    }})
                return self._send(404, {"status": "error"})

            def do_POST(self):  # noqa: N802
                key = self._auth()
                if key is None:
                    return self._send(401, {"status": "error", "message": "invalid access key"})
                m = _QUERY_RE.match(self.path)
                if m:
                    return self._query(key, m.group(1), m.group(2))
                m = _QSTREAM_RE.match(self.path)
                if m:
                    # content negotiation: the reference's binary frame
                    # protocol on application/octet-stream, NDJSON
                    # otherwise
                    ctype = (self.headers.get("Content-Type") or "").lower()
                    if ctype.startswith("application/octet-stream"):
                        return self._query_stream_binary(
                            key, m.group(1), m.group(2)
                        )
                    return self._query_stream(key, m.group(1), m.group(2))
                m = _TXN_RE.match(self.path)
                if m:
                    return self._txn_store(key, m.group(1), m.group(2))
                m = _TXN_ID_RE.match(self.path)
                if m and m.group(4):
                    return self._txn_commit(key, m.group(1), m.group(2), m.group(3))
                m = _SNAP_RE.match(self.path)
                if m:
                    return self._snapshot_create(key, m.group(1), m.group(2))
                m = _BACKUP_RE.match(self.path)
                if m:
                    return self._backup_create(key, m.group(1), m.group(2))
                m = _RESTORE_RE.match(self.path)
                if m:
                    return self._restore(key, m.group(1), m.group(2))
                m = _BRANCH_RE.match(self.path)
                if m:
                    return self._branch_create(key, m.group(1))
                if _DBS_RE.match(self.path):
                    return self._database_create(key)
                if _KEYS_RE.match(self.path):
                    return self._key_create(key)
                if _EKEY_ACT_RE.match(self.path):
                    return self._ekey_activate(key)
                if _EKEYS_RE.match(self.path):
                    return self._ekey_store(key)
                if _USERS_RE.match(self.path):
                    return self._user_create(key)
                return self._send(404, {"status": "error"})

            # -- encryption-key rotation (reference key_controller.go /
            # key_activate_controller.go): POST /v1/keys stores the NEXT
            # key, authenticated by an HMAC signature under the CURRENT
            # key; POST /v1/keys/activate flips a stored key to active.
            # Activating a never-stored key is rejected. ----------------

            def _ekey_store(self, key):
                if not key.allows("*", "cluster:manage"):
                    return self._send(
                        403, {"status": "error", "message": "forbidden"}
                    )
                body = self._body()
                ek = body.get("encryption_key")
                sig = body.get("signature")
                if not ek:
                    return self._send(400, {
                        "status": "error",
                        "message": "The encryption key field is required.",
                    })
                if not sig:
                    return self._send(400, {
                        "status": "error",
                        "message": "The signature field is required.",
                    })
                if not isinstance(ek, str) or not isinstance(sig, str):
                    return self._send(400, {
                        "status": "error",
                        "message": "The encryption key and signature must "
                                   "be strings.",
                    })
                with server.key_lock:
                    expected = hmac.new(
                        server.encryption_key.encode(),
                        ek.encode(),
                        hashlib.sha256,
                    ).hexdigest()
                    if not hmac.compare_digest(sig, expected):
                        return self._send(
                            403,
                            {"status": "error",
                             "message": "invalid signature"},
                        )
                    server.pending_keys.add(ek)
                return self._send(200, {
                    "status": "success",
                    "message": "next encryption key stored successfully",
                    "data": {},
                })

            def _ekey_activate(self, key):
                if not key.allows("*", "cluster:manage"):
                    return self._send(
                        403, {"status": "error", "message": "forbidden"}
                    )
                body = self._body()
                ek = body.get("encryption_key")
                if not ek:
                    return self._send(400, {
                        "status": "error",
                        "message": "The encryption key field is required.",
                    })
                if not isinstance(ek, str):
                    return self._send(400, {
                        "status": "error",
                        "message": "The encryption key must be a string.",
                    })
                with server.key_lock:
                    if ek not in server.pending_keys:
                        return self._send(400, {
                            "status": "error",
                            "message": "the encryption key is invalid",
                        })
                    # Activation retires every other stored candidate, so
                    # pending_keys can't grow unboundedly across rotations.
                    server.pending_keys.clear()
                    server.encryption_key = ek
                return self._send(200, {
                    "status": "success",
                    "message": "encryption key activated successfully",
                    "data": {},
                })

            def do_PUT(self):  # noqa: N802
                key = self._auth()
                if key is None:
                    return self._send(401, {"status": "error", "message": "invalid access key"})
                m = _USER_ID_RE.match(self.path)
                if m:
                    return self._user_update(key, m.group(1))
                m = _KEY_ID_RE.match(self.path)
                if m:
                    return self._key_update(key, m.group(1))
                return self._send(404, {"status": "error"})

            def do_DELETE(self):  # noqa: N802
                key = self._auth()
                if key is None:
                    return self._send(401, {"status": "error", "message": "invalid access key"})
                m = _TXN_ID_RE.match(self.path)
                if m and not m.group(4):
                    return self._txn_rollback(key, m.group(1), m.group(2), m.group(3))
                m = _BACKUP_ID_RE.match(self.path)
                if m:
                    return self._backup_delete(key, m.group(1), m.group(2), m.group(3))
                m = _KEY_ID_RE.match(self.path)
                if m:
                    return self._key_delete(key, m.group(1))
                m = _USER_ID_RE.match(self.path)
                if m:
                    return self._user_delete(key, m.group(1))
                m = _DB_RE.match(self.path)
                if m:
                    return self._database_delete(key, m.group(1))
                return self._send(404, {"status": "error"})

            # -- admin controllers (reference routes.go backups/snapshots/
            # restore/branches/databases/access-keys surface) ---------------

            def _manage_ok(self, key, db, branch) -> bool:
                return key.allows(
                    f"database:{db}:branch:{branch}", "database:manage"
                )

            def _backup_dir(self) -> str:
                import os

                d = os.path.join(server.store.root, "backups")
                os.makedirs(d, exist_ok=True)
                return d

            def _backup_list(self) -> list[str]:
                import os

                if server.store is None:
                    return []
                d = self._backup_dir()
                return sorted(
                    f[: -len(".tar.gz")]
                    for f in os.listdir(d)
                    if f.endswith(".tar.gz")
                )

            def _snapshot_create(self, key, db, branch):
                if not self._manage_ok(key, db, branch):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if server.store is None:
                    return self._send(503, {"status": "error", "message": "no versioned store attached"})
                body = self._body()
                snap = server.store.snapshot(
                    label=body.get("label", ""), namespace=branch
                )
                return self._send(201, {"status": "success", "data": {
                    "snapshot_id": snap.snapshot_id,
                    "created_at": snap.created_at,
                    "label": snap.label,
                    "tables": snap.tables,
                }})

            def _backup_create(self, key, db, branch):
                import os
                import time as _time

                if not self._manage_ok(key, db, branch):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if server.store is None:
                    return self._send(503, {"status": "error", "message": "no versioned store attached"})
                body = self._body()
                backup_id = f"backup-{int(_time.time() * 1e6)}"
                path = os.path.join(self._backup_dir(), f"{backup_id}.tar.gz")
                try:
                    server.store.backup_archive(
                        path, snapshot_id=body.get("snapshot_id")
                    )
                except LookupError as e:
                    return self._send(400, {"status": "error", "message": str(e)})
                return self._send(201, {"status": "success", "data": {"backup_id": backup_id}})

            def _backup_delete(self, key, db, branch, backup_id):
                import os

                if not self._manage_ok(key, db, branch):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if server.store is None:
                    return self._send(503, {"status": "error", "message": "no versioned store attached"})
                path = os.path.join(self._backup_dir(), f"{backup_id}.tar.gz")
                if not os.path.exists(path):
                    return self._send(404, {"status": "error", "message": "no such backup"})
                os.remove(path)
                return self._send(200, {"status": "success"})

            def _restore(self, key, db, branch):
                if not self._manage_ok(key, db, branch):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if server.store is None:
                    return self._send(503, {"status": "error", "message": "no versioned store attached"})
                body = self._body()
                ts = body.get("timestamp")
                if ts is None:
                    return self._send(400, {"status": "error", "message": "timestamp is required"})
                try:
                    views = server.store.restore_at(
                        float(ts), view_prefix=f"{db}_{branch}_restore"
                    )
                except LookupError as e:
                    return self._send(400, {"status": "error", "message": str(e)})
                return self._send(200, {"status": "success", "data": {"views": views}})

            def _branch_create(self, key, db):
                if not key.allows(f"database:{db}:branch:main", "database:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if server.store is None:
                    return self._send(503, {"status": "error", "message": "no versioned store attached"})
                body = self._body()
                name = body.get("name")
                if not name:
                    return self._send(400, {"status": "error", "message": "name is required"})
                tables = server.store.create_branch(
                    name, source=body.get("source", "main")
                )
                return self._send(201, {"status": "success", "data": {"branch": name, "tables": tables}})

            def _database_create(self, key):
                if not key.allows("*", "database:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                body = self._body()
                name = body.get("name")
                if not name:
                    return self._send(400, {"status": "error", "message": "name is required"})
                with server.write_lock:
                    server.engine.create_database(name)
                return self._send(201, {"status": "success", "data": {"database": name}})

            def _database_delete(self, key, db):
                if not key.allows("*", "database:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                with server.write_lock:
                    server.engine.drop_database(db)
                return self._send(200, {"status": "success"})

            def _key_create(self, key):
                if not key.allows("*", "access-key:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                body = self._body()
                kid, secret = body.get("access_key_id"), body.get("secret")
                if not kid or not secret:
                    return self._send(400, {"status": "error", "message": "access_key_id and secret are required"})
                stmts = [
                    AccessKeyStatement(
                        resources=s.get("resources", []),
                        privileges=s.get("privileges", []),
                    )
                    for s in body.get("statements", [])
                ]
                server.keys.store(AccessKey(kid, secret, stmts))
                return self._send(201, {"status": "success", "data": {"access_key_id": kid}})

            def _key_delete(self, key, key_id):
                if not key.allows("*", "access-key:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if not server.keys.revoke(key_id):
                    return self._send(404, {"status": "error", "message": "no such key"})
                return self._send(200, {"status": "success"})

            def _key_update(self, key, key_id):
                # AccessKeyControllerUpdate (routes.go:77-82): replace the
                # key's privilege statements; the secret is immutable
                if not key.allows("*", "access-key:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                k = server.keys._keys.get(key_id)
                if k is None:
                    return self._send(404, {"status": "error", "message": "no such key"})
                body = self._body()
                stmts = body.get("statements")
                if not isinstance(stmts, list):
                    return self._send(400, {"status": "error", "message": "statements is required"})
                k.statements = [
                    AccessKeyStatement(
                        resources=s.get("resources", []),
                        privileges=s.get("privileges", []),
                    )
                    for s in stmts
                ]
                return self._send(200, {"status": "success", "data": {"access_key_id": key_id}})

            # -- user controllers (reference pkg/http/user_controller.go;
            # routes.go:17-52 — index/show/store/update/destroy, all under
            # cluster:manage) ----------------------------------------------

            def _user_create(self, key):
                if not key.allows("*", "cluster:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                body = self._body()
                name, pw = body.get("username"), body.get("password")
                if not name or not pw:
                    return self._send(400, {"status": "error", "message": "username and password are required"})
                if len(pw) < 8:
                    # UserControllerStoreRequest validate:"min=8"
                    return self._send(400, {"status": "error", "message": "password must be at least 8 characters"})
                stmts = [
                    AccessKeyStatement(
                        resources=s.get("resources", []),
                        privileges=s.get("privileges", []),
                    )
                    for s in body.get("statements", [])
                ]
                u = User.create(name, pw, stmts)
                server.users.store(u)
                return self._send(201, {"status": "success", "data": u.as_response()})

            def _user_update(self, key, username):
                if not key.allows("*", "cluster:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                u = server.users.get(username)
                if u is None:
                    return self._send(404, {"status": "error", "message": "no such user"})
                body = self._body()
                pw = body.get("password")
                if pw is not None:
                    if len(pw) < 8:
                        return self._send(400, {"status": "error", "message": "password must be at least 8 characters"})
                    u.set_password(pw)
                if body.get("statements") is not None:
                    u.statements = [
                        AccessKeyStatement(
                            resources=s.get("resources", []),
                            privileges=s.get("privileges", []),
                        )
                        for s in body["statements"]
                    ]
                server.users.store(u)
                return self._send(200, {"status": "success", "data": u.as_response()})

            def _user_delete(self, key, username):
                if not key.allows("*", "cluster:manage"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                if not server.users.delete(username):
                    return self._send(404, {"status": "error", "message": "no such user"})
                return self._send(200, {"status": "success"})

            # -- controllers ------------------------------------------------

            def _query(self, key, db, branch):
                resource = f"database:{db}:branch:{branch}"
                if not key.allows(resource, "database:query"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                try:
                    body = self._body()
                except json.JSONDecodeError:
                    return self._send(400, {"status": "error", "message": "invalid input"})
                queries = body.get("queries")
                if not isinstance(queries, list) or not queries:
                    return self._send(400, {"status": "error", "message": "The queries field is required."})
                out = []
                for q in queries:
                    stmt = q.get("statement")
                    if not stmt:
                        return self._send(400, {"status": "error", "message": "The SQL statement field is required."})
                    priv = required_privilege(stmt)
                    if not key.allows(resource, priv):
                        return self._send(403, {"status": "error", "message": f"forbidden: requires {priv}"})
                    params = decode_parameters(q.get("parameters"))
                    is_write = classify_statement(stmt) in ("DML", "DDL", "MAINT", "TCL")
                    # per-query busy_timeout analog: timeout_ms rides the
                    # wire payload (connection busy_timeout 5000 ms,
                    # database_connection.go:52)
                    tmo = q.get("timeout_ms")
                    tmo = (float(tmo) / 1000.0) if tmo else None
                    try:
                        if is_write:
                            with server.write_lock:
                                res = server.engine.sql(
                                    stmt, params,
                                    transaction_id=q.get("transaction_id"),
                                    timeout=tmo,
                                )
                        else:
                            res = server.engine.sql(
                                stmt, params,
                                transaction_id=q.get("transaction_id"),
                                timeout=tmo,
                            )
                    except TimeoutError as e:
                        return self._send(408, {"status": "error", "message": str(e)[:500]})
                    except Exception as e:
                        return self._send(400, {"status": "error", "message": str(e)[:500]})
                    out.append(result_envelope(q.get("id"), res))
                return self._send(200, {"status": "success", "data": out})

            def _query_stream_binary(self, key, db, branch):
                """POST .../query/stream with application/octet-stream —
                the reference's length-prefixed binary frame protocol
                (litebase_spark/wire.py documents the exact byte layout
                and reference file:line provenance). The handler reads
                [type][len][payload] messages off the request body as
                they arrive and writes response frames as they complete
                — the same duplex pipelining as the reference's
                EnableFullDuplex stream controller: OPEN answers
                'connected', each FRAME of query inputs answers a FRAME
                of per-query [FRAME_ENTRY|ERROR] response envelopes
                (typed columns, v1 version byte), CLOSE or EOF ends the
                stream. Execution reuses the engine's collected path —
                the envelope's row_count precedes the rows, so each
                per-query response is complete before it is framed,
                exactly as the reference encodes QueryResponse."""
                import time as _time

                from litebase_spark import wire

                resource = f"database:{db}:branch:{branch}"
                if not key.allows(resource, "database:query"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                self.send_response(200)
                self.send_header("Content-Type", "application/octet-stream")
                self.send_header("Connection", "close")
                self.end_headers()

                def write(data: bytes) -> bool:
                    try:
                        self.wfile.write(data)
                        self.wfile.flush()
                        return True
                    except (BrokenPipeError, ConnectionError):
                        return False

                self.connection.settimeout(60)
                while True:
                    try:
                        msg = wire.read_message(self.rfile.read)
                    except (ValueError, OSError):
                        return
                    if msg is None:
                        return
                    mtype, payload = msg
                    if mtype == wire.MSG_OPEN:
                        if not write(
                            wire.encode_message(wire.MSG_OPEN, b"connected")
                        ):
                            return
                        continue
                    if mtype == wire.MSG_CLOSE:
                        return
                    if mtype != wire.MSG_FRAME:
                        continue  # unknown types are skipped, like the
                        # reference's default branch
                    entries = []
                    for qbytes in wire.iter_frame_queries(payload):
                        resp = wire.WireResponse()
                        etype = wire.MSG_FRAME_ENTRY
                        t0 = _time.perf_counter()
                        try:
                            q = wire.decode_query_input(qbytes)
                            resp.id = q["id"]
                            resp.transaction_id = q["transaction_id"]
                            stmt = q["statement"]
                            if not stmt:
                                raise ValueError(
                                    "The SQL statement field is required."
                                )
                            priv = required_privilege(stmt)
                            if not key.allows(resource, priv):
                                raise PermissionError(
                                    f"forbidden: requires {priv}"
                                )
                            params = decode_parameters(
                                q["parameters"] or None
                            )
                            cls = classify_statement(stmt)
                            is_write = cls in ("DML", "DDL", "MAINT", "TCL")
                            import contextlib as _ctx

                            lock = (
                                server.write_lock
                                if is_write or q["transaction_id"]
                                else _ctx.nullcontext()
                            )
                            with lock:
                                res = server.engine.sql(
                                    stmt,
                                    params,
                                    transaction_id=(
                                        q["transaction_id"] or None
                                    ),
                                )
                            resp.changes = res.changes or 0
                            resp.latency = res.latency
                            resp.columns = list(res.columns)
                            resp.rows = [list(r) for r in res.rows]
                            resp.row_count = len(resp.rows)
                        except Exception as e:
                            etype = wire.MSG_ERROR
                            resp.error = str(e)[:500] or "error"
                            resp.latency = _time.perf_counter() - t0
                        enc = wire.encode_query_response(resp)
                        entries.append(
                            bytes([etype])
                            + len(enc).to_bytes(4, "little")
                            + enc
                        )
                    if not write(
                        wire.encode_message(wire.MSG_FRAME, b"".join(entries))
                    ):
                        return

            def _query_stream(self, key, db, branch):
                """POST .../query/stream — the reference's pipelined
                streaming protocol (pkg/http/routes.go `query/stream`,
                SURVEY §3.2) re-expressed as NDJSON frames over a
                streamed HTTP response (documented deviation: the
                reference frames a custom binary protocol; the framing
                here is line-delimited JSON, the PIPELINING is the
                faithful part).

                Frames, one JSON object per line, flushed as produced:
                  {"id", "type": "columns", "columns": [...]}
                  {"id", "type": "rows", "rows": [[...], ...]}   (batches)
                  {"id", "type": "end", "row_count", "changes", "latency"}
                  {"id", "type": "error", "message"}             (aborts)

                SELECT results are NOT collected on the server: the
                DataFrame streams through `toLocalIterator` partition by
                partition (prefetching one ahead), so the first rows
                frame goes out while later partitions are still
                computing — at cluster scale the response pipeline is
                bounded by one partition of memory, never the full
                result. Writes execute under the single-writer lock and
                emit only the end frame. A statement error emits an
                error frame and aborts the remaining pipeline, matching
                the reference's fail-fast stream semantics. Per-query
                ``timeout_ms`` is honored exactly as on the batch
                endpoint; a timed statement is collected (not streamed)
                so the engine watchdog can cancel its job group, and an
                expiry surfaces as an error frame.
                """
                resource = f"database:{db}:branch:{branch}"
                if not key.allows(resource, "database:query"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                try:
                    body = self._body()
                except json.JSONDecodeError:
                    return self._send(400, {"status": "error", "message": "invalid input"})
                queries = body.get("queries")
                if not isinstance(queries, list) or not queries:
                    return self._send(400, {"status": "error", "message": "The queries field is required."})
                for q in queries:
                    stmt = q.get("statement")
                    if not stmt:
                        return self._send(400, {"status": "error", "message": "The SQL statement field is required."})
                    priv = required_privilege(stmt)
                    if not key.allows(resource, priv):
                        return self._send(403, {"status": "error", "message": f"forbidden: requires {priv}"})

                self.send_response(200)
                self.send_header("Content-Type", "application/x-ndjson")
                self.send_header("Connection", "close")
                self.end_headers()

                def frame(obj) -> bool:
                    try:
                        self.wfile.write(
                            (json.dumps(obj) + "\n").encode()
                        )
                        self.wfile.flush()
                        return True
                    except (BrokenPipeError, ConnectionError):
                        return False  # client went away: stop producing

                for q in queries:
                    stmt, qid = q["statement"], q.get("id")
                    # everything per-query runs inside the try: a bad
                    # typed parameter or classifier error must emit an
                    # error frame, not drop the connection mid-stream
                    # (headers are already sent — no 400 path remains)
                    try:
                        params = decode_parameters(q.get("parameters"))
                        cls = classify_statement(stmt)
                        is_write = cls in ("DML", "DDL", "MAINT", "TCL")
                        # per-query busy_timeout analog, matching the
                        # batch /query endpoint. A timed statement takes
                        # the COLLECTED path: engine.sql's job-group
                        # watchdog needs the jobs on the handler thread,
                        # and toLocalIterator serves jobs from its own
                        # thread where the group does not propagate —
                        # a bounded-latency statement is bounded-size
                        # anyway, so collecting loses nothing.
                        tmo = q.get("timeout_ms")
                        tmo = (float(tmo) / 1000.0) if tmo else None
                        if (
                            is_write
                            or q.get("transaction_id")
                            or tmo is not None
                        ):
                            # writes / transactional statements take the
                            # collected path (single-writer lock; txn
                            # shadow views are not lazy-streamable)
                            import contextlib as _ctx

                            lock = (
                                server.write_lock
                                if is_write or q.get("transaction_id")
                                else _ctx.nullcontext()
                            )
                            with lock:
                                res = server.engine.sql(
                                    stmt, params,
                                    transaction_id=q.get("transaction_id"),
                                    timeout=tmo,
                                )
                            if not frame({"id": qid, "type": "columns",
                                          "columns": res.columns}):
                                return
                            if res.rows and not frame(
                                {"id": qid, "type": "rows",
                                 "rows": [[_json_value(v) for v in r]
                                          for r in res.rows]}
                            ):
                                return
                            if not frame({"id": qid, "type": "end",
                                          "row_count": res.row_count,
                                          "changes": res.changes,
                                          "latency": res.latency}):
                                return
                            continue
                        res = server.engine.stream(stmt, params)
                        if not frame({"id": qid, "type": "columns",
                                      "columns": res.columns}):
                            return
                        batch = []
                        for row in res.rows:
                            batch.append([_json_value(v) for v in row])
                            if len(batch) >= 256:
                                if not frame({"id": qid, "type": "rows",
                                              "rows": batch}):
                                    return
                                batch = []
                        if batch and not frame(
                            {"id": qid, "type": "rows", "rows": batch}
                        ):
                            return
                        if not frame({"id": qid, "type": "end",
                                      "row_count": res.row_count,
                                      "changes": 0,
                                      "latency": res.latency}):
                            return
                    except Exception as e:
                        frame({"id": qid, "type": "error",
                               "message": str(e)[:500]})
                        return  # fail-fast: abort the remaining pipeline

            def _txn_store(self, key, db, branch):
                resource = f"database:{db}:branch:{branch}"
                if not key.allows(resource, "database:transaction"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                kind = (self._body().get("kind") or "DEFERRED").upper()
                txn = server.engine.begin(kind)
                return self._send(
                    201,
                    {
                        "status": "success",
                        "data": {"transaction_id": txn.transaction_id},
                    },
                )

            def _txn_commit(self, key, db, branch, txn_id):
                resource = f"database:{db}:branch:{branch}"
                if not key.allows(resource, "database:transaction"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                txn = server.engine._transactions.get(txn_id)
                if txn is None:
                    return self._send(404, {"status": "error", "message": "no such transaction"})
                with server.write_lock:
                    txn.commit()
                return self._send(200, {"status": "success"})

            def _txn_rollback(self, key, db, branch, txn_id):
                resource = f"database:{db}:branch:{branch}"
                if not key.allows(resource, "database:transaction"):
                    return self._send(403, {"status": "error", "message": "forbidden"})
                txn = server.engine._transactions.get(txn_id)
                if txn is None:
                    return self._send(404, {"status": "error", "message": "no such transaction"})
                txn.rollback()
                return self._send(200, {"status": "success"})

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self.httpd.server_address[1]

    def start(self) -> threading.Thread:
        t = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        t.start()
        return t

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

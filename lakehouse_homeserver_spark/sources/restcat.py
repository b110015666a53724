"""Iceberg-REST-shaped catalog service over snapshot tables.

SURVEY.md "What's missing" #1 is the reference's NETWORK catalog: its
compose file runs an Iceberg REST catalog container backed by
Postgres, and both engines resolve tables through it
(/root/reference/docker-compose.yml:8,18;
/root/reference/scripts/extract_load.py:42-46 wires
``spark.sql.catalog.lakehouse.type=rest``). That exact stack needs
infra this environment doesn't have — but the CONTRACT it provides
(any engine resolves namespaces/tables/snapshots over HTTP, then
reads the table's own files directly) doesn't need Postgres or
containers at all. This module provides that contract natively:

- :class:`CatalogServer` — a stdlib ``ThreadingHTTPServer`` on
  127.0.0.1 serving a subset of the public Apache Iceberg REST
  Catalog OpenAPI surface (GET config / namespaces / tables /
  loadTable), backed by snapshot-table commit logs on disk. The
  server is METADATA-ONLY, exactly like the real REST catalog: data
  bytes never travel through it — ``loadTable`` returns the table
  location + current snapshot's live-file manifest and the engine
  scans the files itself.
- :class:`RestCatalog` — a urllib client any Python engine embeds:
  list namespaces/tables, load table metadata, and (for Spark)
  ``read_table`` = plan the scan from the SERVED manifest.

Divergence from the real spec, kept deliberate and documented: the
real LoadTableResult points engines at Avro manifest files; our
format's JSON log entry already IS the scan plan, so the response
inlines the live-file manifest under the (clearly non-spec) key
``x-manifest`` next to the spec-shaped fields. Engines that only
want spec fields ignore it and read the snapshot log at
``metadata-location`` — which is how the DuckDB side of
``a47_rest_catalog`` proves the files stay engine-neutral.

This narrows the remaining seams the first catalog left open
("Postgres persistence + OAuth"):

- :class:`SqlCatalogStore` — a SQLite-backed registry with the same
  table shape Iceberg's JdbcCatalog persists (namespace + table →
  metadata location); the reference backs its REST catalog with
  Postgres the same way (docker-compose.yml:8,18). Registrations
  survive server AND process restarts — hand the same ``db_path`` to
  a new :class:`CatalogServer` and every table resolves again. SQLite
  here is the embeddable stand-in for the Postgres container; the
  SQL and contract are identical in kind.
- OAuth2 client-credentials (the spec's ``POST /v1/oauth/tokens``):
  construct the server with ``credential=(client_id, secret)`` and
  every route except ``config``/``oauth`` requires
  ``Authorization: Bearer <token>``; bad or missing tokens get the
  spec's 401 envelope. Without ``credential`` the server stays open
  (127.0.0.1-only), as the first catalog was.
- Write DDL: ``POST /v1/namespaces`` (CreateNamespace) and the
  spec's table registration ``POST /v1/namespaces/{ns}/register``
  (RegisterTableRequest: name + metadata-location), so a client can
  round-trip DDL over the wire instead of poking the store directly.
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

__all__ = ["CatalogServer", "RestCatalog", "SqlCatalogStore"]


def _read_head(table_path: str) -> dict | None:
    """Current snapshot entry of a snapshot table, read WITHOUT a
    SparkSession (the catalog is a metadata service; it must not
    depend on an engine). Mirrors ``SnapshotTable.entry`` incl. the
    manifest-list sidecar indirection."""
    log_dir = os.path.join(table_path, "_log")
    if not os.path.isdir(log_dir):
        return None
    versions = sorted(
        int(f[:-5])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and not f.startswith(".")
    )
    if not versions:
        return None
    with open(os.path.join(log_dir, f"{versions[-1]:020d}.json")) as fh:
        entry = json.load(fh)
    ref = entry.pop("manifest_ref", None)
    if ref is not None:
        # Same sidecar dir the writer uses (snapshot._MANIFESTS_DIR =
        # "manifests"); a literal here once diverged ("_manifests"),
        # breaking loadTable for any table past MANIFEST_INLINE_MAX
        # live files — exactly the at-scale regime the sidecar exists
        # for.
        from .snapshot import _MANIFESTS_DIR

        with open(os.path.join(log_dir, _MANIFESTS_DIR, ref)) as fh:
            entry.update(json.load(fh))
    return entry


class SqlCatalogStore:
    """SQL-backed catalog persistence — the JdbcCatalog/Postgres
    shape (Iceberg's JDBC catalog persists exactly these two tables;
    the reference's REST catalog persists to Postgres,
    docker-compose.yml:8,18). SQLite is the embeddable stand-in: the
    contract certified is that catalog STATE lives in a SQL store
    independent of any server process — a new :class:`CatalogServer`
    over the same ``db_path`` resolves every prior registration.

    Connections are short-lived per operation (open → statement →
    commit → close), so concurrent driver/mirror processes serialize
    on SQLite's file lock without holding it across requests."""

    def __init__(self, db_path: str) -> None:
        self.db_path = db_path
        with self._conn() as c:
            c.execute(
                "CREATE TABLE IF NOT EXISTS catalog_namespaces ("
                " namespace TEXT PRIMARY KEY,"
                " properties TEXT NOT NULL DEFAULT '{}')"
            )
            c.execute(
                "CREATE TABLE IF NOT EXISTS catalog_tables ("
                " table_namespace TEXT NOT NULL,"
                " table_name TEXT NOT NULL,"
                " metadata_location TEXT NOT NULL,"
                " PRIMARY KEY (table_namespace, table_name))"
            )

    def _conn(self) -> sqlite3.Connection:
        return sqlite3.connect(self.db_path, timeout=30)

    def create_namespace(self, ns: str, properties: dict | None = None) -> None:
        with self._conn() as c:
            c.execute(
                "INSERT OR IGNORE INTO catalog_namespaces VALUES (?, ?)",
                (ns, json.dumps(properties or {})),
            )

    def register_table(self, ns: str, name: str, table_path: str) -> None:
        self.create_namespace(ns)
        with self._conn() as c:
            c.execute(
                "INSERT OR REPLACE INTO catalog_tables VALUES (?, ?, ?)",
                (ns, name, table_path),
            )

    def namespaces(self) -> list[str]:
        with self._conn() as c:
            rows = c.execute(
                "SELECT namespace FROM catalog_namespaces ORDER BY namespace"
            ).fetchall()
        return [r[0] for r in rows]

    def namespace_exists(self, ns: str) -> bool:
        with self._conn() as c:
            row = c.execute(
                "SELECT 1 FROM catalog_namespaces WHERE namespace = ?", (ns,)
            ).fetchone()
        return row is not None

    def tables(self, ns: str) -> list[str]:
        with self._conn() as c:
            rows = c.execute(
                "SELECT table_name FROM catalog_tables"
                " WHERE table_namespace = ? ORDER BY table_name",
                (ns,),
            ).fetchall()
        return [r[0] for r in rows]

    def table_path(self, ns: str, name: str) -> str | None:
        with self._conn() as c:
            row = c.execute(
                "SELECT metadata_location FROM catalog_tables"
                " WHERE table_namespace = ? AND table_name = ?",
                (ns, name),
            ).fetchone()
        return None if row is None else row[0]


class CatalogServer:
    """Serve registered snapshot tables over the Iceberg REST shape.

    Routes (subset of the public REST catalog OpenAPI):

    - ``GET /v1/config`` → ``{"defaults": {}, "overrides": {}}``
    - ``GET /v1/namespaces`` → ``{"namespaces": [[ns], ...]}``
    - ``GET /v1/namespaces/{ns}/tables`` → ``{"identifiers": [...]}``
    - ``GET /v1/namespaces/{ns}/tables/{t}`` → LoadTableResult shape:
      ``metadata-location``, ``metadata`` (``location``,
      ``current-snapshot-id``, ``schemas``/``current-schema-id``,
      ``properties``) plus the non-spec ``x-manifest`` scan plan.

    Unknown namespace/table → 404 with the spec's error envelope.
    """

    def __init__(
        self,
        store: SqlCatalogStore | None = None,
        credential: tuple[str, str] | None = None,
    ) -> None:
        # In-memory registry when no store is given (the default);
        # a SqlCatalogStore makes registrations survive restarts.
        # The lock mirrors _tokens_lock: handlers run on
        # ThreadingHTTPServer threads, and an unlocked iteration over
        # _tables racing a concurrent register() is a RuntimeError
        # (dict changed size) -> spurious 500. _ns_mem makes
        # CreateNamespace real for the in-memory registry — it used
        # to 200 and then 404 the namespace it had just affirmed.
        self._tables: dict[tuple[str, str], str] = {}
        self._ns_mem: set[str] = set()
        self._reg_lock = threading.Lock()
        self._store = store
        self._credential = credential
        # token -> monotonic expiry; expired entries are evicted on
        # issue and on check, so the set stays bounded.
        # The lock serializes dict mutation vs iteration: handlers run
        # on ThreadingHTTPServer threads, and an unlocked any()/
        # items() scan racing a concurrent token issue is a
        # RuntimeError(dict changed size) -> spurious 500.
        self._tokens: dict[str, float] = {}
        self._tokens_lock = threading.Lock()
        self._token_ttl_s = 3600.0
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def register(self, namespace: str, name: str, table_path: str) -> None:
        if self._store is not None:
            self._store.register_table(namespace, name, table_path)
        else:
            with self._reg_lock:
                self._ns_mem.add(namespace)
                self._tables[(namespace, name)] = table_path

    # -- registry views (store-backed or in-memory) -------------------------
    def _namespaces(self) -> list[str]:
        if self._store is not None:
            return self._store.namespaces()
        with self._reg_lock:
            return sorted({ns for ns, _ in self._tables} | self._ns_mem)

    def _namespace_exists(self, ns: str) -> bool:
        if self._store is not None:
            return self._store.namespace_exists(ns)
        with self._reg_lock:
            return ns in self._ns_mem or any(
                k == ns for k, _ in self._tables
            )

    def _tables_in(self, ns: str) -> list[str]:
        if self._store is not None:
            return self._store.tables(ns)
        with self._reg_lock:
            return sorted(n for (k, n) in self._tables if k == ns)

    def _lookup(self, ns: str, name: str) -> str | None:
        if self._store is not None:
            return self._store.table_path(ns, name)
        with self._reg_lock:
            return self._tables.get((ns, name))

    def _create_namespace(self, ns: str, properties: dict | None) -> None:
        if self._store is not None:
            self._store.create_namespace(ns, properties)
        else:
            with self._reg_lock:
                self._ns_mem.add(ns)

    # -- request handling --------------------------------------------------
    def _issue_token(self, body: bytes) -> tuple[int, dict]:
        """``POST /v1/oauth/tokens`` — the spec's OAuth2
        client-credentials grant (form-encoded, like real clients
        send). Valid credentials get a bearer token; anything else
        the spec's 401 envelope."""
        import hmac
        import secrets
        import time

        form = urllib.parse.parse_qs((body or b"").decode())
        cid = form.get("client_id", [None])[0]
        sec = form.get("client_secret", [None])[0]
        # constant-time secret comparison: loopback test
        # fixture today, but keep the contract honest for anything
        # this surface ever fronts.
        cred_ok = (
            self._credential is not None
            and cid == self._credential[0]
            and sec is not None
            and hmac.compare_digest(sec, self._credential[1])
        )
        if (
            not cred_ok
            or form.get("grant_type", [None])[0] != "client_credentials"
        ):
            return 401, _err(401, "invalid client credentials")
        tok = secrets.token_hex(16)
        with self._tokens_lock:
            self._evict_expired_locked()
            self._tokens[tok] = time.monotonic() + self._token_ttl_s
        return 200, {
            "access_token": tok,
            "token_type": "bearer",
            "expires_in": int(self._token_ttl_s),
        }

    def _evict_expired_locked(self) -> None:
        """Caller holds self._tokens_lock."""
        import time

        now = time.monotonic()
        for t in [t for t, exp in self._tokens.items() if exp <= now]:
            del self._tokens[t]

    def _authorized(self, headers) -> bool:
        import hmac

        if self._credential is None:
            return True
        auth = headers.get("Authorization", "")
        if not auth.startswith("Bearer "):
            return False
        presented = auth[7:]
        # honor the advertised expires_in: only live tokens pass, and
        # comparison is constant-time per stored token.
        with self._tokens_lock:
            self._evict_expired_locked()
            return any(
                hmac.compare_digest(presented, t) for t in self._tokens
            )

    def _route(
        self, method: str, path: str, body: bytes | None, headers
    ) -> tuple[int, dict]:
        parts = [p for p in path.split("/") if p]
        if parts[:1] != ["v1"]:
            return 404, _err(404, f"unknown route {path}")
        parts = parts[1:]
        if parts == ["config"]:
            return 200, {"defaults": {}, "overrides": {}}
        if parts == ["oauth", "tokens"] and method == "POST":
            return self._issue_token(body)
        if not self._authorized(headers):
            return 401, _err(401, "missing or invalid bearer token")
        if method == "POST":
            return self._route_post(parts, body, path)
        if parts == ["namespaces"]:
            return 200, {
                "namespaces": [[ns] for ns in self._namespaces()]
            }
        if len(parts) == 2 and parts[0] == "namespaces":
            ns = parts[1]
            if not self._namespace_exists(ns):
                return 404, _err(404, f"namespace {ns} not found")
            return 200, {"namespace": [ns], "properties": {}}
        if len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
            ns = parts[1]
            if not self._namespace_exists(ns):
                return 404, _err(404, f"namespace {ns} not found")
            idents = [
                {"namespace": [ns], "name": n} for n in self._tables_in(ns)
            ]
            return 200, {"identifiers": idents}
        if len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
            ns, name = parts[1], parts[3]
            tpath = self._lookup(ns, name)
            if tpath is None:
                return 404, _err(404, f"table {ns}.{name} not found")
            head = _read_head(tpath)
            if head is None:
                return 404, _err(404, f"table {ns}.{name} has no snapshots")
            version = head["version"]
            return 200, {
                "metadata-location": os.path.join(
                    tpath, "_log", f"{version:020d}.json"
                ),
                "metadata": {
                    "format-version": 2,
                    "location": tpath,
                    "current-snapshot-id": version,
                    "current-schema-id": version,
                    "schemas": [
                        dict(
                            json.loads(head["schema"]), **{"schema-id": version}
                        )
                    ],
                    "properties": head.get("properties", {}),
                },
                "config": {},
                "x-manifest": head["manifest"],
                # Full commit entry (manifest + footer stats + blooms
                # + delete files + seq map), inlined for engines that
                # plan the scan ENTIRELY from the catalog response —
                # the stand-in for the second fetch a real engine
                # makes to metadata-location. Same documented
                # divergence as x-manifest (spec points at Avro
                # manifests; we inline JSON).
                "x-entry": head,
            }
        return 404, _err(404, f"unknown route {path}")

    def _route_post(
        self, parts: list[str], body: bytes | None, path: str
    ) -> tuple[int, dict]:
        """Write DDL over the wire: CreateNamespace and the spec's
        RegisterTableRequest (``name`` + ``metadata-location``; here
        the location is the snapshot-table root, whose commit log IS
        the metadata — documented divergence, same as x-manifest)."""
        payload = json.loads(body) if body else {}
        if parts == ["namespaces"]:
            ns_field = payload.get("namespace")
            if not ns_field or not isinstance(ns_field, list):
                return 400, _err(400, "namespace must be a non-empty list")
            self._create_namespace(ns_field[0], payload.get("properties"))
            return 200, {
                "namespace": ns_field,
                "properties": payload.get("properties", {}),
            }
        if len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "register":
            ns = parts[1]
            name = payload.get("name")
            loc = payload.get("metadata-location")
            if not name or not loc:
                return 400, _err(400, "name and metadata-location required")
            if not os.path.isdir(os.path.join(loc, "_log")):
                return 400, _err(400, f"{loc} has no snapshot log")
            self.register(ns, name, loc)
            return 200, {"metadata-location": loc}
        return 404, _err(404, f"unknown route {path}")

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> str:
        """Bind 127.0.0.1 on an ephemeral port; return the base URI."""
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def _respond(self, method: str) -> None:
                n = int(self.headers.get("Content-Length") or 0)
                req_body = self.rfile.read(n) if n else None
                try:
                    code, body = outer._route(
                        method,
                        self.path.split("?", 1)[0],
                        req_body,
                        self.headers,
                    )
                except Exception as e:  # pragma: no cover - defensive
                    code, body = 500, _err(500, repr(e))
                payload = json.dumps(body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self) -> None:  # noqa: N802 (stdlib contract)
                self._respond("GET")

            def do_POST(self) -> None:  # noqa: N802 (stdlib contract)
                self._respond("POST")

            def log_message(self, *a) -> None:  # quiet
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.uri

    @property
    def uri(self) -> str:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
            self._thread = None

    def __enter__(self) -> "CatalogServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


def _err(code: int, message: str) -> dict:
    return {
        "error": {"message": message, "type": "NoSuchObjectException", "code": code}
    }


class RestCatalog:
    """Engine-embeddable client for :class:`CatalogServer` (and, by
    construction, for the matching subset of any real Iceberg REST
    endpoint)."""

    def __init__(
        self, uri: str, credential: tuple[str, str] | None = None
    ) -> None:
        self.uri = uri.rstrip("/")
        self._token: str | None = None
        # One config round-trip on connect, like real clients.
        self.config = self._get("/v1/config")
        if credential is not None:
            # The spec's OAuth2 client-credentials handshake, form-
            # encoded like real clients send it.
            form = urllib.parse.urlencode(
                {
                    "grant_type": "client_credentials",
                    "client_id": credential[0],
                    "client_secret": credential[1],
                }
            ).encode()
            out = self._request("POST", "/v1/oauth/tokens", data=form)
            self._token = out["access_token"]

    def _request(
        self, method: str, route: str, data: bytes | None = None
    ) -> dict:
        req = urllib.request.Request(
            self.uri + route, data=data, method=method
        )
        if self._token is not None:
            req.add_header("Authorization", f"Bearer {self._token}")
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    def _get(self, route: str) -> dict:
        return self._request("GET", route)

    def _post_json(self, route: str, payload: dict) -> dict:
        return self._request(
            "POST", route, data=json.dumps(payload).encode()
        )

    def create_namespace(self, ns: str, properties: dict | None = None) -> dict:
        return self._post_json(
            "/v1/namespaces",
            {"namespace": [ns], "properties": properties or {}},
        )

    def register_table(self, ns: str, name: str, table_path: str) -> dict:
        """The spec's RegisterTableRequest: point the catalog at an
        EXISTING table's metadata — DDL over the wire, no data moved."""
        return self._post_json(
            f"/v1/namespaces/{ns}/register",
            {"name": name, "metadata-location": table_path},
        )

    def list_namespaces(self) -> list[str]:
        return [ns[0] for ns in self._get("/v1/namespaces")["namespaces"]]

    def list_tables(self, namespace: str) -> list[str]:
        out = self._get(f"/v1/namespaces/{namespace}/tables")
        return [i["name"] for i in out["identifiers"]]

    def load_table(self, namespace: str, name: str) -> dict:
        return self._get(f"/v1/namespaces/{namespace}/tables/{name}")

    def load_entry(self, namespace: str, name: str) -> tuple[dict, str]:
        """(full commit entry, table location) — everything an engine
        needs to plan a snapshot scan, all of it off the wire (the
        `x-entry` inline; see CatalogServer loadTable). Consumed by
        the `snapshot` DataSource's catalog_uri option, which makes
        HTTP the ONLY metadata path of that scan."""
        meta = self.load_table(namespace, name)
        return meta["x-entry"], meta["metadata"]["location"]

    def read_table(self, spark, namespace: str, name: str):
        """Plan a Spark scan from the SERVED metadata: the wire entry
        (manifest + schema + MoR delete files) drives the whole plan,
        then data bytes come straight from the files — they never
        touch the catalog, the defining property of the REST-catalog
        architecture. The first cut scanned
        ``x-manifest`` alone, so MoR-deleted rows RESURFACED in the
        served table (equality/positional delete files were served in
        ``x-entry`` but never applied) and pre-evolution files
        misrepresented later-added columns; the scan now funnels
        through the same `_read_files` delete/schema semantics as a
        native read, fed entirely by wire metadata."""
        from .snapshot import SnapshotTable

        meta = self.load_table(namespace, name)
        loc = meta["metadata"]["location"]
        entry = meta["x-entry"]
        t = SnapshotTable(spark, loc)
        return t._read_files(entry, entry["manifest"])

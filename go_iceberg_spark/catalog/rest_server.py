"""Iceberg-REST-shaped catalog service (the counterpart of the client in
``rest.py``; protocol shape follows reference: catalog/rest.go:76-509).

A threading HTTP server over a warehouse directory: namespaces and table
METADATA POINTERS are owned by the service; data and manifest files live on
shared storage that clients write directly (the same split the Iceberg REST
protocol assumes). Endpoints:

    GET    /v1/config
    POST   /v1/oauth/tokens               (client-credentials -> bearer token)
    GET    /v1/namespaces
    POST   /v1/namespaces
    GET|HEAD|DELETE /v1/namespaces/{ns}
    GET    /v1/namespaces/{ns}/tables
    POST   /v1/namespaces/{ns}/tables     (create: name + metadata document)
    GET|HEAD|DELETE /v1/namespaces/{ns}/tables/{t}
    POST   /v1/namespaces/{ns}/tables/{t}/commit
           {"requirements": [...], "updates": [...]}  (Iceberg wire shape;
           requirement failure or CAS race -> 409; a body with neither
           key -> 400).
    POST   /v1/tables/rename

Commit vocabulary (assert-create / assert-table-uuid / assert-ref-snapshot-id
/ ... requirements; add-snapshot / set-snapshot-ref / add-schema / ... update
actions) lives in ``commit_protocol.py``
(reference: catalog/catalog.go:131-280).

Namespace path segments are joined with the %1F unit separator, as in the
Iceberg REST spec.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

from ..table.metadata import (
    TableMetadata,
    commit_metadata,
    current_metadata_version,
    load_metadata,
)
from ..errors import CommitConflictError, RequirementFailedError

_NS_FILE = ".namespace.json"
UNIT_SEP = "\x1f"
DEV_TOKEN = "dev-token"


class _BadRequest(Exception):
    pass


class _State:
    def __init__(self, warehouse: str, token: str | None):
        self.warehouse = os.path.abspath(warehouse)
        self.token = token
        os.makedirs(self.warehouse, exist_ok=True)

    def ns_path(self, ns: tuple[str, ...]) -> str:
        return os.path.join(self.warehouse, *ns)

    def table_path(self, ns: tuple[str, ...], name: str) -> str:
        return os.path.join(self.ns_path(ns), name)


def _decode_ns(segment: str) -> tuple[str, ...]:
    return tuple(unquote(segment).split(UNIT_SEP))


class _Handler(BaseHTTPRequestHandler):
    state: _State  # set by make_server

    # -- plumbing -----------------------------------------------------------
    def log_message(self, fmt, *args):  # silence request logging
        pass

    def _send(self, code: int, body: dict | None = None) -> None:
        data = json.dumps(body or {}).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        if self.command != "HEAD":
            self.wfile.write(data)

    def _error(self, code: int, msg: str) -> None:
        self._send(code, {"error": {"message": msg, "code": code}})

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b"{}"
        try:
            return json.loads(raw)
        except json.JSONDecodeError as e:
            raise _BadRequest(f"malformed JSON body: {e}") from e

    def _authed(self) -> bool:
        if self.state.token is None or self.path == "/v1/oauth/tokens":
            return True
        return self.headers.get("Authorization") == f"Bearer {self.state.token}"

    # -- routing ------------------------------------------------------------
    def _route(self):
        if not self._authed():
            return self._error(401, "missing or invalid bearer token")
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        m = self.command
        try:
            if parts == ["v1", "config"]:
                return self._send(200, {"defaults": {}, "overrides": {"warehouse": self.state.warehouse}})
            if parts == ["v1", "oauth", "tokens"] and m == "POST":
                return self._send(200, {"access_token": self.state.token or DEV_TOKEN,
                                        "token_type": "bearer", "expires_in": 3600})
            if parts == ["v1", "namespaces"]:
                return self._namespaces(m)
            if parts[:2] == ["v1", "namespaces"] and len(parts) == 3:
                return self._namespace(m, _decode_ns(parts[2]))
            if parts[:2] == ["v1", "namespaces"] and len(parts) == 4 and parts[3] == "tables":
                return self._tables(m, _decode_ns(parts[2]))
            if parts[:2] == ["v1", "namespaces"] and len(parts) == 5 and parts[3] == "tables":
                return self._table(m, _decode_ns(parts[2]), unquote(parts[4]))
            if (parts[:2] == ["v1", "namespaces"] and len(parts) == 6
                    and parts[3] == "tables" and parts[5] == "commit" and m == "POST"):
                return self._commit(_decode_ns(parts[2]), unquote(parts[4]))
            if parts == ["v1", "tables", "rename"] and m == "POST":
                return self._rename()
            return self._error(404, f"no route {m} {self.path}")
        except BrokenPipeError:
            raise
        except _BadRequest as e:
            return self._error(400, str(e))
        except KeyError as e:
            return self._error(400, f"missing required field: {e}")
        except Exception as e:  # noqa: BLE001 - surface as 500 to the client
            return self._error(500, f"{type(e).__name__}: {e}")

    do_GET = do_POST = do_DELETE = do_HEAD = _route

    # -- namespace endpoints -------------------------------------------------
    def _namespaces(self, m: str):
        st = self.state
        if m == "GET":
            out = []
            for root, _dirs, files in os.walk(st.warehouse):
                if _NS_FILE in files:
                    out.append(os.path.relpath(root, st.warehouse).split(os.sep))
            return self._send(200, {"namespaces": sorted(out)})
        if m == "POST":
            body = self._body()
            ns = tuple(body["namespace"])
            marker = os.path.join(st.ns_path(ns), _NS_FILE)
            if os.path.exists(marker):
                return self._error(409, f"namespace {ns} exists")
            os.makedirs(st.ns_path(ns), exist_ok=True)
            with open(marker, "w") as f:
                json.dump({"properties": body.get("properties", {})}, f)
            return self._send(200, {"namespace": list(ns)})
        return self._error(405, m)

    def _namespace(self, m: str, ns: tuple[str, ...]):
        st = self.state
        marker = os.path.join(st.ns_path(ns), _NS_FILE)
        if not os.path.exists(marker):
            return self._error(404, f"namespace {ns} not found")
        if m in ("GET", "HEAD"):
            with open(marker) as f:
                props = json.load(f).get("properties", {})
            return self._send(200, {"namespace": list(ns), "properties": props})
        if m == "DELETE":
            tables = [t for t in os.listdir(st.ns_path(ns))
                      if current_metadata_version(os.path.join(st.ns_path(ns), t)) > 0]
            if tables:
                return self._error(409, f"namespace {ns} not empty")
            shutil.rmtree(st.ns_path(ns))
            return self._send(204)
        return self._error(405, m)

    # -- table endpoints ------------------------------------------------------
    def _tables(self, m: str, ns: tuple[str, ...]):
        st = self.state
        if m == "GET":
            path = st.ns_path(ns)
            names = []
            if os.path.isdir(path):
                names = sorted(t for t in os.listdir(path)
                               if current_metadata_version(os.path.join(path, t)) > 0)
            return self._send(200, {"identifiers": [{"namespace": list(ns), "name": n} for n in names]})
        if m == "POST":
            body = self._body()
            name = body["name"]
            loc = st.table_path(ns, name)
            if current_metadata_version(loc) > 0:
                return self._error(409, f"table {ns}.{name} exists")
            md = TableMetadata.from_json(body["metadata"])
            if os.path.abspath(md.location) != os.path.abspath(loc):
                return self._error(400, f"metadata location {md.location!r} must be {loc!r} "
                                        "(clients learn the warehouse from GET /v1/config)")
            v = commit_metadata(loc, md, 0)
            return self._send(200, {"metadata-location": loc, "metadata": md.to_json(), "version": v})
        return self._error(405, m)

    def _table(self, m: str, ns: tuple[str, ...], name: str):
        st = self.state
        loc = st.table_path(ns, name)
        v = current_metadata_version(loc)
        if v == 0:
            return self._error(404, f"table {ns}.{name} not found")
        if m in ("GET", "HEAD"):
            md, v = load_metadata(loc)
            return self._send(200, {"metadata-location": loc, "metadata": md.to_json(), "version": v})
        if m == "DELETE":
            shutil.rmtree(loc)
            return self._send(204)
        return self._error(405, m)

    def _commit(self, ns: tuple[str, ...], name: str):
        st = self.state
        loc = st.table_path(ns, name)
        if current_metadata_version(loc) == 0:
            return self._error(404, f"table {ns}.{name} not found")
        body = self._body()
        if "requirements" not in body and "updates" not in body:
            return self._error(400, "commit body needs requirements or updates")
        # Iceberg REST wire shape: assert requirements against the service's
        # current metadata, apply update actions to it
        # (reference: catalog/catalog.go:131-280)
        from .commit_protocol import apply_updates, check_requirements

        base, base_v = load_metadata(loc)
        try:
            check_requirements(base, body.get("requirements", []))
            md = apply_updates(base, body.get("updates", []))
            v = commit_metadata(loc, md, base_v)
        except (RequirementFailedError, CommitConflictError) as e:
            return self._error(409, str(e))
        return self._send(200, {"metadata-location": loc,
                                "metadata": md.to_json(), "version": v})

    def _rename(self):
        st = self.state
        body = self._body()
        src = st.table_path(tuple(body["source"]["namespace"]), body["source"]["name"])
        dst = st.table_path(tuple(body["destination"]["namespace"]), body["destination"]["name"])
        if current_metadata_version(src) == 0:
            return self._error(404, "source table not found")
        if os.path.exists(dst):
            return self._error(409, "destination exists")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        # the moved metadata still records the SOURCE location, and clients
        # attach tables at metadata.location — every relative manifest/data
        # path would resolve (and new data files would land!) under the
        # stale directory, so a read after the rename fails on the old path.
        # Commit a location rewrite as a new metadata version at the
        # destination; when a concurrent commit takes that version first,
        # the rewrite is re-applied on its successor.
        from dataclasses import replace as _rpl

        from ..table.metadata import now_ms
        for _ in range(5):
            md, v = load_metadata(dst)
            if md.location == dst:
                break
            try:
                commit_metadata(dst, _rpl(md, location=dst, last_updated_ms=now_ms()), v)
                break
            except CommitConflictError:
                continue
        else:
            return self._error(500, "rename could not rewrite table location")
        return self._send(204)


def make_server(warehouse: str, port: int = 0, token: str | None = None) -> ThreadingHTTPServer:
    """Build (not start) the catalog server; port 0 picks a free port."""
    handler = type("BoundHandler", (_Handler,), {"state": _State(warehouse, token)})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def serve_background(warehouse: str, port: int = 0, token: str | None = None):
    """Start the server on a daemon thread; returns (server, base_uri)."""
    srv = make_server(warehouse, port, token)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"

"""Iceberg-REST-shaped catalog service (the counterpart of the client in
``rest.py``; protocol shape follows reference: catalog/rest.go:76-509).

A threading HTTP server over a ``FilesystemCatalog`` warehouse: every
endpoint calls the catalog, and one table maps the catalog's exceptions to
HTTP status codes. Namespaces and table METADATA POINTERS are owned by the
service; data and manifest files live on shared storage that clients write
directly (the same split the Iceberg REST protocol assumes). Endpoints:

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
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

from ..errors import (
    CommitConflictError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NamespaceNotFoundError,
    RequirementFailedError,
    TableAlreadyExistsError,
    TableNotFoundError,
    ValidationError,
)
from ..table.metadata import TableMetadata, commit_metadata
from .catalog import FilesystemCatalog
from .commit_protocol import apply_updates, check_requirements

UNIT_SEP = "\x1f"
DEV_TOKEN = "dev-token"


class _BadRequest(Exception):
    pass


# catalog exception -> HTTP status; anything else is a 500
_STATUS = (
    ((_BadRequest, ValidationError), 400),
    ((NamespaceNotFoundError, TableNotFoundError), 404),
    ((NamespaceAlreadyExistsError, NamespaceNotEmptyError, TableAlreadyExistsError,
      CommitConflictError, RequirementFailedError), 409),
)


def _decode_ns(segment: str) -> tuple[str, ...]:
    return tuple(unquote(segment).split(UNIT_SEP))


def _table_json(t) -> dict:
    return {"metadata-location": t.location, "metadata": t.metadata.to_json(),
            "version": t.version}


class _Handler(BaseHTTPRequestHandler):
    catalog: FilesystemCatalog  # set by make_server
    token: str | None

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
        if self.token is None or self.path == "/v1/oauth/tokens":
            return True
        return self.headers.get("Authorization") == f"Bearer {self.token}"

    # -- routing ------------------------------------------------------------
    def _route(self):
        if not self._authed():
            return self._error(401, "missing or invalid bearer token")
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        m = self.command
        try:
            if parts == ["v1", "config"]:
                return self._send(200, {"defaults": {}, "overrides": {"warehouse": self.catalog.warehouse}})
            if parts == ["v1", "oauth", "tokens"] and m == "POST":
                return self._send(200, {"access_token": self.token or DEV_TOKEN,
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
        except KeyError as e:
            return self._error(400, f"missing required field: {e}")
        except Exception as e:  # noqa: BLE001 - surface to the client
            code = next((c for types, c in _STATUS if isinstance(e, types)), None)
            if code is None:
                return self._error(500, f"{type(e).__name__}: {e}")
            return self._error(code, str(e))

    do_GET = do_POST = do_DELETE = do_HEAD = _route

    # -- namespace endpoints -------------------------------------------------
    def _namespaces(self, m: str):
        if m == "GET":
            return self._send(200, {"namespaces": [list(ns) for ns in self.catalog.list_namespaces()]})
        if m == "POST":
            body = self._body()
            ns = tuple(body["namespace"])
            self.catalog.create_namespace(ns, body.get("properties", {}))
            return self._send(200, {"namespace": list(ns)})
        return self._error(405, m)

    def _namespace(self, m: str, ns: tuple[str, ...]):
        if m in ("GET", "HEAD"):
            props = self.catalog.namespace_properties(ns)
            return self._send(200, {"namespace": list(ns), "properties": props})
        if m == "DELETE":
            self.catalog.drop_namespace(ns)
            return self._send(204)
        return self._error(405, m)

    # -- table endpoints ------------------------------------------------------
    def _tables(self, m: str, ns: tuple[str, ...]):
        if m == "GET":
            names = self.catalog.list_tables(ns)
            return self._send(200, {"identifiers": [{"namespace": list(ns), "name": n} for n in names]})
        if m == "POST":
            body = self._body()
            md = TableMetadata.from_json(body["metadata"])
            return self._send(200, _table_json(self.catalog._register(ns, body["name"], md)))
        return self._error(405, m)

    def _table(self, m: str, ns: tuple[str, ...], name: str):
        if m in ("GET", "HEAD"):
            return self._send(200, _table_json(self.catalog.load_table(ns, name)))
        if m == "DELETE":
            self.catalog.drop_table(ns, name)
            return self._send(204)
        return self._error(405, m)

    def _commit(self, ns: tuple[str, ...], name: str):
        t = self.catalog.load_table(ns, name)
        body = self._body()
        if "requirements" not in body and "updates" not in body:
            raise _BadRequest("commit body needs requirements or updates")
        # Iceberg REST wire shape: assert requirements against the service's
        # current metadata, apply update actions to it
        # (reference: catalog/catalog.go:131-280)
        check_requirements(t.metadata, body.get("requirements", []))
        t.metadata = apply_updates(t.metadata, body.get("updates", []))
        t.version = commit_metadata(t.location, t.metadata, t.version, io=self.catalog.io)
        return self._send(200, _table_json(t))

    def _rename(self):
        body = self._body()
        src, dst = body["source"], body["destination"]
        self.catalog.rename_table(tuple(src["namespace"]), src["name"],
                                  tuple(dst["namespace"]), dst["name"])
        return self._send(204)


def make_server(warehouse: str, port: int = 0, token: str | None = None) -> ThreadingHTTPServer:
    """Build (not start) the catalog server; port 0 picks a free port."""
    handler = type("BoundHandler", (_Handler,),
                   {"catalog": FilesystemCatalog(None, warehouse), "token": token})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def serve_background(warehouse: str, port: int = 0, token: str | None = None):
    """Start the server on a daemon thread; returns (server, base_uri)."""
    srv = make_server(warehouse, port, token)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"

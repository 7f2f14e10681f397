"""REST catalog client (reference: catalog/rest.go:76-509).

Speaks the protocol served by ``rest_server.py``, committing with the
Iceberg REST requirements/updates vocabulary (``commit_protocol.py``).
Auth mirrors the reference: a static bearer ``token``, or OAuth2
client-credentials (``credential="id:secret"`` -> POST /v1/oauth/tokens,
reference: catalog/rest.go:456-477). The warehouse location comes from
GET /v1/config, merged like the reference's config-merge
(reference: catalog/rest.go config handling).

Tables loaded through this catalog COMMIT through the service (409 ->
retryable CommitConflictError) while reading/writing data and manifest files
directly on shared storage — the standard catalog-service + object-store
deployment split.
"""

from __future__ import annotations

import requests

from ..errors import (
    CommitConflictError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NamespaceNotFoundError,
    TableAlreadyExistsError,
    TableNotFoundError,
    ValidationError,
)
from ..schema import Schema
from ..table.metadata import TableMetadata, UNPARTITIONED, UNSORTED, PartitionSpec, SortOrder
from ..table.table import Table
from .catalog import Catalog, _norm_ns
from .rest_server import UNIT_SEP


class RESTCatalog(Catalog):
    """Catalog over an Iceberg-REST-shaped service."""

    def __init__(self, spark, uri: str, *, token: str | None = None,
                 credential: str | None = None, timeout: float = 30.0):
        self.spark = spark
        self.uri = uri.rstrip("/")
        self.timeout = timeout
        self._http = requests.Session()
        if credential is not None:
            token = self._oauth_token(credential)
        if token is not None:
            self._http.headers["Authorization"] = f"Bearer {token}"
        cfg = self._req("GET", "/v1/config")
        merged = {**cfg.get("defaults", {}), **cfg.get("overrides", {})}
        self.warehouse = merged.get("warehouse")
        if not self.warehouse:
            raise ValidationError("catalog config did not provide a warehouse")

    # -- plumbing -----------------------------------------------------------
    def _oauth_token(self, credential: str) -> str:
        r = self._http.post(f"{self.uri}/v1/oauth/tokens",
                            json={"grant_type": "client_credentials", "credential": credential},
                            timeout=self.timeout)
        if r.status_code != 200:
            raise ValidationError(f"oauth token exchange failed: {r.status_code} {r.text}")
        return r.json()["access_token"]

    def _req(self, method: str, path: str, body: dict | None = None,
             not_found: type[Exception] | None = None,
             conflict: type[Exception] | None = None) -> dict:
        r = self._http.request(method, f"{self.uri}{path}", json=body, timeout=self.timeout)
        if r.status_code in (200, 204):
            return r.json() if r.content else {}
        msg = ""
        try:
            msg = r.json().get("error", {}).get("message", r.text)
        except ValueError:
            msg = r.text
        if r.status_code == 404 and not_found:
            raise not_found(msg)
        if r.status_code == 409 and conflict:
            raise conflict(msg)
        raise ValidationError(f"catalog {method} {path} -> {r.status_code}: {msg}")

    @staticmethod
    def _ns_seg(ns) -> str:
        return UNIT_SEP.join(_norm_ns(ns))

    # -- namespaces -----------------------------------------------------------
    def list_namespaces(self):
        out = self._req("GET", "/v1/namespaces")
        return sorted(tuple(n) for n in out.get("namespaces", []))

    def create_namespace(self, ns, properties: dict | None = None) -> None:
        self._req("POST", "/v1/namespaces",
                  {"namespace": list(_norm_ns(ns)), "properties": properties or {}},
                  conflict=NamespaceAlreadyExistsError)

    def drop_namespace(self, ns) -> None:
        self._req("DELETE", f"/v1/namespaces/{self._ns_seg(ns)}",
                  not_found=NamespaceNotFoundError, conflict=NamespaceNotEmptyError)

    def namespace_exists(self, ns) -> bool:
        try:
            self._req("GET", f"/v1/namespaces/{self._ns_seg(ns)}", not_found=NamespaceNotFoundError)
            return True
        except NamespaceNotFoundError:
            return False

    def namespace_properties(self, ns) -> dict:
        out = self._req("GET", f"/v1/namespaces/{self._ns_seg(ns)}", not_found=NamespaceNotFoundError)
        return out.get("properties", {})

    # -- tables ----------------------------------------------------------------
    def list_tables(self, ns) -> list[str]:
        out = self._req("GET", f"/v1/namespaces/{self._ns_seg(ns)}/tables")
        return sorted(i["name"] for i in out.get("identifiers", []))

    def _table_location(self, ns, name: str) -> str:
        return "/".join((self.warehouse, *_norm_ns(ns), name))

    def _attach(self, ns, name: str, md: TableMetadata, version: int) -> Table:
        """Build a Table whose metadata pointer I/O goes through the service."""
        from .commit_protocol import main_ref_requirement, metadata_updates

        seg = self._ns_seg(ns)

        def loader() -> tuple[TableMetadata, int]:
            out = self._req("GET", f"/v1/namespaces/{seg}/tables/{name}",
                            not_found=TableNotFoundError)
            return TableMetadata.from_json(out["metadata"]), out["version"]

        table = Table(self.spark, (*_norm_ns(ns), name), md.location, md, version,
                      loader=loader)

        def committer(new_md: TableMetadata, expected_version: int) -> int:
            # Iceberg REST commit: requirements asserted server-side +
            # update actions diffed from the metadata this mutation was
            # built on (reference: catalog/rest.go:425-445 CommitTable,
            # catalog/catalog.go:131-280 vocabulary). At committer-call
            # time table.metadata is still that base — Table swaps it to
            # new_md only after the commit succeeds.
            base = table.metadata
            out = self._req(
                "POST", f"/v1/namespaces/{seg}/tables/{name}/commit",
                {
                    "identifier": {"namespace": list(_norm_ns(ns)), "name": name},
                    "requirements": [
                        {"type": "assert-table-uuid", "uuid": base.table_uuid},
                        main_ref_requirement(base),
                    ],
                    "updates": metadata_updates(base, new_md),
                },
                not_found=TableNotFoundError, conflict=CommitConflictError,
            )
            return out["version"]

        table._commit_fn = committer
        return table

    def create_table(self, ns, name: str, schema: Schema, spec: PartitionSpec = UNPARTITIONED,
                     sort_order: SortOrder = UNSORTED, properties: dict | None = None) -> Table:
        if not self.namespace_exists(ns):
            self.create_namespace(ns)
        loc = self._table_location(ns, name)
        md = TableMetadata.new(loc, schema, spec, sort_order, properties)
        out = self._req("POST", f"/v1/namespaces/{self._ns_seg(ns)}/tables",
                        {"name": name, "metadata": md.to_json()},
                        conflict=TableAlreadyExistsError)
        return self._attach(ns, name, TableMetadata.from_json(out["metadata"]), out["version"])

    def load_table(self, ns, name: str) -> Table:
        out = self._req("GET", f"/v1/namespaces/{self._ns_seg(ns)}/tables/{name}",
                        not_found=TableNotFoundError)
        return self._attach(ns, name, TableMetadata.from_json(out["metadata"]), out["version"])

    def drop_table(self, ns, name: str) -> None:
        self._req("DELETE", f"/v1/namespaces/{self._ns_seg(ns)}/tables/{name}",
                  not_found=TableNotFoundError)

    def rename_table(self, ns, old: str, new_ns, new: str) -> None:
        self._req("POST", "/v1/tables/rename",
                  {"source": {"namespace": list(_norm_ns(ns)), "name": old},
                   "destination": {"namespace": list(_norm_ns(new_ns)), "name": new}},
                  not_found=TableNotFoundError, conflict=TableAlreadyExistsError)

    def table_exists(self, ns, name: str) -> bool:
        try:
            self._req("GET", f"/v1/namespaces/{self._ns_seg(ns)}/tables/{name}",
                      not_found=TableNotFoundError)
            return True
        except TableNotFoundError:
            return False

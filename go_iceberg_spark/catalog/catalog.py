"""Catalog interface + the warehouse catalog.

Re-expresses the reference catalog surface (reference: catalog/catalog.go:11-53
interface — namespaces list/create/drop/exists/properties, tables
create/load/drop/rename/exists, commit) over a warehouse on any FileIO: a
local directory (reference: io/local.go) or an object-store prefix
(reference: io/s3.go), without a REST service. A REST catalog client with the
same interface lives in ``rest.py`` (reference: catalog/rest.go), and the
service it speaks to (``rest_server.py``) runs this catalog.

Layout: ``<warehouse>/<ns parts...>/<table>/metadata/v{N}.metadata.json``.
Namespace properties live in ``<ns>/.namespace.json``.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

from pyspark.sql import SparkSession

from ..errors import (
    CommitConflictError,
    IcebergError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NamespaceNotFoundError,
    TableAlreadyExistsError,
    TableNotFoundError,
    ValidationError,
)
from ..io.fileio import LocalFileIO, for_location, strip_file_scheme
from ..schema import Schema
from ..table.metadata import (
    PartitionSpec,
    SortOrder,
    TableMetadata,
    UNPARTITIONED,
    UNSORTED,
    commit_metadata,
    current_metadata_version,
    load_metadata,
    now_ms,
)
from ..table.table import Table

_NS_FILE = ".namespace.json"


class Catalog:
    """Abstract catalog (reference: catalog/catalog.go:11-53)."""

    # namespaces
    def list_namespaces(self) -> list[tuple[str, ...]]:
        raise NotImplementedError

    def create_namespace(self, ns: tuple[str, ...], properties: dict | None = None) -> None:
        raise NotImplementedError

    def drop_namespace(self, ns: tuple[str, ...]) -> None:
        raise NotImplementedError

    def namespace_exists(self, ns: tuple[str, ...]) -> bool:
        raise NotImplementedError

    def namespace_properties(self, ns: tuple[str, ...]) -> dict:
        raise NotImplementedError

    # tables
    def list_tables(self, ns: tuple[str, ...]) -> list[str]:
        raise NotImplementedError

    def create_table(self, ns: tuple[str, ...], name: str, schema: Schema,
                     spec: PartitionSpec = UNPARTITIONED, sort_order: SortOrder = UNSORTED,
                     properties: dict | None = None) -> Table:
        raise NotImplementedError

    def load_table(self, ns: tuple[str, ...], name: str) -> Table:
        raise NotImplementedError

    def drop_table(self, ns: tuple[str, ...], name: str) -> None:
        raise NotImplementedError

    def rename_table(self, ns: tuple[str, ...], old: str, new_ns: tuple[str, ...], new: str) -> None:
        raise NotImplementedError

    def table_exists(self, ns: tuple[str, ...], name: str) -> bool:
        raise NotImplementedError


def _norm_ns(ns) -> tuple[str, ...]:
    if isinstance(ns, str):
        return tuple(ns.split("."))
    return tuple(ns)


class FilesystemCatalog(Catalog):
    """Warehouse catalog over a FileIO (the reference's local-FS and S3
    deployment modes, reference: io/local.go, io/s3.go + examples/basic).
    ``io`` defaults to the warehouse scheme's FileIO; namespace markers and
    table commits use its exclusive create as the optimistic-concurrency
    primitive (a link on local disk, a conditional PUT on S3).

    Data files are written by Spark executors; without a Hadoop S3A
    deployment they cannot land on ``s3://`` directly, so tables default
    their ``write.data.path`` to ``data_path`` (a Hadoop-visible root) when
    one is configured.

    Object stores have no rename; there ``rename_table`` raises (use a REST
    catalog for metadata-pointer renames — catalog/rest.py)."""

    def __init__(self, spark: SparkSession, warehouse: str, io=None,
                 data_path: str | None = None):
        self.spark = spark
        self.io = io or for_location(warehouse)
        self.warehouse = (os.path.abspath(strip_file_scheme(warehouse))
                          if isinstance(self.io, LocalFileIO) else warehouse.rstrip("/"))
        self.data_path = data_path

    # -- paths -------------------------------------------------------------
    def _ns_path(self, ns) -> str:
        return "/".join((self.warehouse, *_norm_ns(ns)))

    def _table_path(self, ns, name: str) -> str:
        return f"{self._ns_path(ns)}/{name}"

    def _marker(self, ns) -> str:
        return self._table_path(ns, _NS_FILE)

    # -- namespaces --------------------------------------------------------
    def list_namespaces(self) -> list[tuple[str, ...]]:
        out = []
        for p in self.io.list(self.warehouse):
            if p.endswith("/" + _NS_FILE):
                rel = p[len(self.warehouse) + 1 : -len(_NS_FILE) - 1]
                out.append(tuple(rel.split("/")))
        return sorted(out)

    def create_namespace(self, ns, properties: dict | None = None) -> None:
        try:
            self.io.create(self._marker(ns), json.dumps({"properties": properties or {}}).encode())
        except FileExistsError:
            raise NamespaceAlreadyExistsError(f"namespace {ns} exists") from None

    def drop_namespace(self, ns) -> None:
        """Drop an empty namespace: one holding anything besides its own
        marker (a table, a child namespace, a stray file) raises and is left
        as it is. On a local warehouse the namespace's empty directories go
        too, bottom-up and one ``rmdir`` each, so a table created under it
        concurrently keeps its files."""
        marker = self._marker(ns)
        if not self.io.exists(marker):
            raise NamespaceNotFoundError(f"namespace {ns} not found")
        if any(p != marker for p in self.io.list(self._ns_path(ns) + "/")):
            raise NamespaceNotEmptyError(f"namespace {ns} not empty")
        self.io.delete(marker)
        if isinstance(self.io, LocalFileIO):
            for d, _, _ in os.walk(self._ns_path(ns), topdown=False):
                try:
                    os.rmdir(d)
                except OSError:  # not empty: something landed meanwhile
                    pass

    def namespace_exists(self, ns) -> bool:
        return self.io.exists(self._marker(ns))

    def namespace_properties(self, ns) -> dict:
        try:
            raw = self.io.read(self._marker(ns))
        except FileNotFoundError:
            raise NamespaceNotFoundError(f"namespace {ns} not found") from None
        return json.loads(raw).get("properties", {})

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns) -> list[str]:
        base = self._ns_path(ns) + "/"
        names = set()
        for p in self.io.list(base):
            parts = p[len(base):].split("/")
            if len(parts) == 3 and parts[1] == "metadata" and parts[2].endswith(".metadata.json"):
                names.add(parts[0])
        return sorted(names)

    def create_table(self, ns, name: str, schema: Schema, spec: PartitionSpec = UNPARTITIONED,
                     sort_order: SortOrder = UNSORTED, properties: dict | None = None) -> Table:
        if not self.namespace_exists(ns):
            self.create_namespace(ns)
        props = dict(properties or {})
        if self.data_path and "write.data.path" not in props:
            props["write.data.path"] = "/".join(
                (self.data_path.rstrip("/"), *_norm_ns(ns), name))
        md = TableMetadata.new(self._table_path(ns, name), schema, spec, sort_order, props)
        return self._register(ns, name, md)

    def _register(self, ns, name: str, md: TableMetadata) -> Table:
        """Commit ``md`` as version 1 of a new table ``ns.name``."""
        loc = self._table_path(ns, name)
        if md.location != loc:
            raise ValidationError(f"metadata location {md.location!r} must be {loc!r}")
        if current_metadata_version(loc, self.io) > 0:
            raise TableAlreadyExistsError(f"table {ns}.{name} exists")
        try:
            v = commit_metadata(loc, md, 0, io=self.io)
        except CommitConflictError:
            raise TableAlreadyExistsError(f"table {ns}.{name} exists") from None
        return Table(self.spark, (*_norm_ns(ns), name), loc, md, v, io=self.io)

    def load_table(self, ns, name: str) -> Table:
        loc = self._table_path(ns, name)
        if current_metadata_version(loc, self.io) == 0:
            raise TableNotFoundError(f"table {ns}.{name} not found")
        md, v = load_metadata(loc, self.io)
        return Table(self.spark, (*_norm_ns(ns), name), loc, md, v, io=self.io)

    def drop_table(self, ns, name: str) -> None:
        """Drop a table and everything under its location."""
        loc = self._table_path(ns, name)
        if current_metadata_version(loc, self.io) == 0:
            raise TableNotFoundError(f"table {ns}.{name} not found")
        self.io.delete_tree(loc)

    def rename_table(self, ns, old: str, new_ns, new: str) -> None:
        if not isinstance(self.io, LocalFileIO):
            raise ValidationError(
                "object stores cannot rename prefixes; use a REST catalog "
                "(catalog/rest.py) for metadata-pointer renames")
        src = self._table_path(ns, old)
        dst = self._table_path(new_ns, new)
        if current_metadata_version(src, self.io) == 0:
            raise TableNotFoundError(f"table {ns}.{old} not found")
        if os.path.exists(dst):
            raise TableAlreadyExistsError(f"table {new_ns}.{new} exists")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        # the moved metadata still records the SOURCE location, and readers
        # resolving relative manifest and data paths against `location` (REST
        # attachments, external readers) would read and write under the stale
        # directory: commit a location rewrite as a new version at the
        # destination; a concurrent commit that takes that version first gets
        # the rewrite re-applied on its successor
        for _ in range(5):
            md, v = load_metadata(dst, self.io)
            if md.location == dst:
                return
            try:
                commit_metadata(dst, replace(md, location=dst, last_updated_ms=now_ms()), v,
                                io=self.io)
                return
            except CommitConflictError:
                continue
        raise IcebergError(f"renamed {src} to {dst} but lost every commit race "
                           "rewriting its location")

    def table_exists(self, ns, name: str) -> bool:
        return current_metadata_version(self._table_path(ns, name), self.io) > 0


def register_sql_views(catalog: Catalog, spark: SparkSession, ns: tuple[str, ...],
                       prefix: str = "") -> list[str]:
    """Expose every table of a namespace to ``spark.sql`` as temp views named
    ``<prefix><table>`` (the SQL entry point: scans resolve through the
    engine's snapshot + pruning machinery, and Catalyst sees an ordinary
    DataFrame, so joins/aggregates/windows over engine tables plan exactly
    like native reads). Views bind the CURRENT snapshot at registration
    time; re-register after commits to advance — the same semantics as a
    database view over a point-in-time scan."""
    names = []
    for name in catalog.list_tables(ns):
        t = catalog.load_table(ns, name)
        t.to_df().createOrReplaceTempView(prefix + name)
        names.append(prefix + name)
    return names

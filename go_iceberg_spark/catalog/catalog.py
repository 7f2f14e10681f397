"""Catalog interface + filesystem catalog.

Re-expresses the reference catalog surface (reference: catalog/catalog.go:11-53
interface — namespaces list/create/drop/exists/properties, tables
create/load/drop/rename/exists, commit) over a warehouse directory, mirroring
how the reference's LocalFileIO-backed flows work without a REST service
(reference: io/local.go). A REST catalog client with the same interface lives
in ``rest.py`` (reference: catalog/rest.go).

Layout: ``<warehouse>/<ns parts...>/<table>/metadata/v{N}.metadata.json``.
Namespace properties live in ``<ns>/.namespace.json``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

from ..errors import (
    NamespaceAlreadyExistsError,
    NamespaceNotFoundError,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from ..schema import Schema
from ..table.metadata import (
    PartitionSpec,
    SortOrder,
    TableMetadata,
    UNPARTITIONED,
    UNSORTED,
    commit_metadata,
    current_metadata_version,
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

    def drop_table(self, ns: tuple[str, ...], name: str, purge: bool = True) -> None:
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
    """Warehouse-directory catalog (the reference's local-FS deployment mode,
    reference: io/local.go + examples/basic)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _ns_path(self, ns) -> str:
        return os.path.join(self.warehouse, *_norm_ns(ns))

    def _table_path(self, ns, name: str) -> str:
        return os.path.join(self._ns_path(ns), name)

    # -- namespaces --------------------------------------------------------
    def list_namespaces(self) -> list[tuple[str, ...]]:
        out = []
        for root, dirs, files in os.walk(self.warehouse):
            if _NS_FILE in files:
                rel = os.path.relpath(root, self.warehouse)
                out.append(tuple(rel.split(os.sep)))
        return sorted(out)

    def create_namespace(self, ns, properties: dict | None = None) -> None:
        path = self._ns_path(ns)
        marker = os.path.join(path, _NS_FILE)
        if os.path.exists(marker):
            raise NamespaceAlreadyExistsError(f"namespace {ns} exists")
        os.makedirs(path, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"properties": properties or {}}, f)

    def drop_namespace(self, ns) -> None:
        path = self._ns_path(ns)
        if not os.path.exists(os.path.join(path, _NS_FILE)):
            raise NamespaceNotFoundError(f"namespace {ns} not found")
        if self.list_tables(ns):
            raise NamespaceNotFoundError(f"namespace {ns} not empty")
        shutil.rmtree(path)

    def namespace_exists(self, ns) -> bool:
        return os.path.exists(os.path.join(self._ns_path(ns), _NS_FILE))

    def namespace_properties(self, ns) -> dict:
        marker = os.path.join(self._ns_path(ns), _NS_FILE)
        if not os.path.exists(marker):
            raise NamespaceNotFoundError(f"namespace {ns} not found")
        with open(marker) as f:
            return json.load(f).get("properties", {})

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns) -> list[str]:
        path = self._ns_path(ns)
        if not os.path.isdir(path):
            return []
        out = []
        for name in os.listdir(path):
            if current_metadata_version(os.path.join(path, name)) > 0:
                out.append(name)
        return sorted(out)

    def create_table(self, ns, name: str, schema: Schema, spec: PartitionSpec = UNPARTITIONED,
                     sort_order: SortOrder = UNSORTED, properties: dict | None = None) -> Table:
        if not self.namespace_exists(ns):
            self.create_namespace(ns)
        loc = self._table_path(ns, name)
        if current_metadata_version(loc) > 0:
            raise TableAlreadyExistsError(f"table {ns}.{name} exists")
        md = TableMetadata.new(loc, schema, spec, sort_order, properties)
        v = commit_metadata(loc, md, 0)
        return Table(self.spark, (*_norm_ns(ns), name), loc, md, v)

    def load_table(self, ns, name: str) -> Table:
        loc = self._table_path(ns, name)
        if current_metadata_version(loc) == 0:
            raise TableNotFoundError(f"table {ns}.{name} not found")
        return Table.load(self.spark, loc, (*_norm_ns(ns), name))

    def drop_table(self, ns, name: str, purge: bool = True) -> None:
        loc = self._table_path(ns, name)
        if current_metadata_version(loc) == 0:
            raise TableNotFoundError(f"table {ns}.{name} not found")
        shutil.rmtree(loc)

    def rename_table(self, ns, old: str, new_ns, new: str) -> None:
        src = self._table_path(ns, old)
        dst = self._table_path(new_ns, new)
        if current_metadata_version(src) == 0:
            raise TableNotFoundError(f"table {ns}.{old} not found")
        if os.path.exists(dst):
            raise TableAlreadyExistsError(f"table {new_ns}.{new} exists")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        # rewrite metadata.location to the destination: Table.load uses the
        # directory path, but the metadata FILE still names the source dir,
        # and REST attachments and external readers resolving relative paths
        # against `location` would read (and write) under the stale directory
        from dataclasses import replace as _rpl

        from ..table.metadata import load_metadata, now_ms
        for _ in range(5):
            md, v = load_metadata(dst)
            if md.location == dst:
                break
            try:
                commit_metadata(dst, _rpl(md, location=dst, last_updated_ms=now_ms()), v)
                break
            except CommitConflictError:
                continue

    def table_exists(self, ns, name: str) -> bool:
        return current_metadata_version(self._table_path(ns, name)) > 0


class ObjectStoreCatalog(Catalog):
    """Warehouse catalog on object storage (``s3://bucket/prefix`` — the
    reference's S3 deployment, reference: io/s3.go): every byte of METADATA
    goes through a FileIO, and the table commit uses S3 conditional PUT
    (If-None-Match: *) as its optimistic-concurrency primitive — the same
    commit protocol ``FilesystemCatalog`` tables run through
    ``LocalFileIO``'s exclusive create.

    Data files are written by Spark executors; without a Hadoop S3A
    deployment they cannot land on ``s3://`` directly, so tables default
    their ``write.data.path`` to ``data_path`` (a Hadoop-visible root) when
    one is configured. On a real cluster with S3A jars, omit ``data_path``
    and data lives under the table location like any Iceberg table.

    Object stores have no rename; ``rename_table`` raises (use a REST
    catalog for metadata-pointer renames — catalog/rest.py)."""

    def __init__(self, spark: SparkSession, warehouse: str, io=None,
                 data_path: str | None = None):
        from ..io.fileio import for_location

        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        self.io = io or for_location(self.warehouse)
        self.data_path = data_path

    def _ns_path(self, ns) -> str:
        return "/".join((self.warehouse, *_norm_ns(ns)))

    def _table_path(self, ns, name: str) -> str:
        return f"{self._ns_path(ns)}/{name}"

    # -- namespaces --------------------------------------------------------
    def list_namespaces(self) -> list[tuple[str, ...]]:
        out = []
        for p in self.io.list(self.warehouse):
            if p.endswith("/" + _NS_FILE):
                rel = p[len(self.warehouse) + 1 : -len(_NS_FILE) - 1]
                out.append(tuple(rel.split("/")))
        return sorted(out)

    def create_namespace(self, ns, properties: dict | None = None) -> None:
        marker = f"{self._ns_path(ns)}/{_NS_FILE}"
        try:
            self.io.create(marker, json.dumps({"properties": properties or {}}).encode())
        except FileExistsError:
            raise NamespaceAlreadyExistsError(f"namespace {ns} exists") from None

    def drop_namespace(self, ns) -> None:
        marker = f"{self._ns_path(ns)}/{_NS_FILE}"
        if not self.io.exists(marker):
            raise NamespaceNotFoundError(f"namespace {ns} not found")
        if self.list_tables(ns):
            raise NamespaceNotFoundError(f"namespace {ns} not empty")
        self.io.delete(marker)

    def namespace_exists(self, ns) -> bool:
        return self.io.exists(f"{self._ns_path(ns)}/{_NS_FILE}")

    def namespace_properties(self, ns) -> dict:
        marker = f"{self._ns_path(ns)}/{_NS_FILE}"
        if not self.io.exists(marker):
            raise NamespaceNotFoundError(f"namespace {ns} not found")
        return json.loads(self.io.read(marker)).get("properties", {})

    # -- tables ------------------------------------------------------------
    def list_tables(self, ns) -> list[str]:
        base = self._ns_path(ns) + "/"
        names = set()
        for p in self.io.list(base):
            rest = p[len(base):]
            parts = rest.split("/")
            if len(parts) >= 3 and parts[1] == "metadata" and parts[2].endswith(".metadata.json"):
                names.add(parts[0])
        return sorted(names)

    def create_table(self, ns, name: str, schema: Schema, spec: PartitionSpec = UNPARTITIONED,
                     sort_order: SortOrder = UNSORTED, properties: dict | None = None) -> Table:
        if not self.namespace_exists(ns):
            self.create_namespace(ns)
        loc = self._table_path(ns, name)
        if current_metadata_version(loc, self.io) > 0:
            raise TableAlreadyExistsError(f"table {ns}.{name} exists")
        props = dict(properties or {})
        if self.data_path and "write.data.path" not in props:
            props["write.data.path"] = "/".join(
                (self.data_path.rstrip("/"), *_norm_ns(ns), name))
        md = TableMetadata.new(loc, schema, spec, sort_order, props)
        v = commit_metadata(loc, md, 0, io=self.io)
        return Table(self.spark, (*_norm_ns(ns), name), loc, md, v, io=self.io)

    def load_table(self, ns, name: str) -> Table:
        loc = self._table_path(ns, name)
        if current_metadata_version(loc, self.io) == 0:
            raise TableNotFoundError(f"table {ns}.{name} not found")
        from ..table.metadata import load_metadata

        md, v = load_metadata(loc, self.io)
        return Table(self.spark, (*_norm_ns(ns), name), loc, md, v, io=self.io)

    def drop_table(self, ns, name: str, purge: bool = True) -> None:
        loc = self._table_path(ns, name)
        objs = self.io.list(loc + "/")
        if current_metadata_version(loc, self.io) == 0:
            raise TableNotFoundError(f"table {ns}.{name} not found")
        if purge:
            for p in objs:
                self.io.delete(p)

    def rename_table(self, ns, old: str, new_ns, new: str) -> None:
        from ..errors import ValidationError

        raise ValidationError(
            "object stores cannot rename prefixes; use a REST catalog "
            "(catalog/rest.py) for metadata-pointer renames")

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

"""Table metadata tree: snapshots, partition specs, manifests, commit protocol.

Re-expresses the reference's metadata model (reference: spec/metadata.go:55-78
TableMetadata, spec/snapshot.go:43-76 Snapshot/refs/log, spec/manifest.go:
101-205 DataFile entries, spec/partition.go:11-204 specs+transforms) with a
Spark-first storage design:

- table metadata = versioned JSON (``metadata/v{N}.metadata.json``) committed
  by atomic exclusive-create, giving the same optimistic concurrency the
  reference gets from REST assert-ref-snapshot-id requirements
  (reference: table/table.go:163-176, catalog/rest.go:425-445);
- each snapshot's live data / delete files, with full per-column stats, are
  listed in parquet member manifests named by a JSON manifest list;
  ``manifest_members`` reads that list (None for an Avro-only snapshot).
  Every member carries every ``_MANIFEST_ARROW_SCHEMA`` column, and every
  list record its path, entry count, delete-entry count and bounds.
  Parquet because at 100 TB a manifest of ~1M files is itself analytic
  data: the scan planner can load it AS a Spark DataFrame and prune
  distributively, while small tables prune driver-side with pyarrow. The
  Iceberg-spec Avro tree (``manifest_avro.py``) is written beside the
  parquet members for external readers, or instead of them under
  ``manifest-format=avro``.
- snapshot ids are random 63-bit ints — fixing the reference's collision-prone
  wall-clock-nanos ids (reference: table/table.go:301, SURVEY §2.6.8).

File statistics are keyed by FIELD ID, not name (reference: spec/manifest.go:
121-136), so schema renames never invalidate pruning.
"""

from __future__ import annotations

import json
import os
import re
import secrets
import time
import uuid as uuid_mod
from dataclasses import dataclass, field as dc_field, replace
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from ..errors import CommitConflictError, NoSuchSnapshotError, TableNotFoundError, ValidationError
from ..io.fileio import LOCAL_IO, FileIO
from ..schema import Schema, schema_from_json, schema_to_json

# The engine writes V2 metadata: it uses sequence numbers, delete-file
# content types, and multi-schema lists — all V2 concepts. V1 documents
# (single `schema`, flat `partition-spec`, no sort orders) are migrated on
# read (reference: spec/metadata.go:161-184 ParseTableMetadata).
FORMAT_VERSION = 2
MAIN_BRANCH = "main"

# snapshot operations (reference: spec/snapshot.go:12-17)
OP_APPEND = "append"
OP_REPLACE = "replace"
OP_OVERWRITE = "overwrite"
OP_DELETE = "delete"

# manifest entry content (reference: spec/manifest.go:101-104)
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2


@dataclass(frozen=True)
class PartitionField:
    """One partition field (reference: spec/partition.go:22-33).

    ``transform`` ∈ identity | bucket[N] | truncate[W] | year | month | day |
    hour | void (reference: spec/partition.go:11-19).
    """

    source_id: int  # field id of the source column
    field_id: int  # partition field id, allocated from 1000 (reference: spec/partition.go:92-99)
    transform: str
    name: str


@dataclass(frozen=True)
class PartitionSpec:
    spec_id: int
    fields: tuple[PartitionField, ...] = ()

    def to_json(self) -> dict:
        return {
            "spec-id": self.spec_id,
            "fields": [
                {"source-id": f.source_id, "field-id": f.field_id, "transform": f.transform, "name": f.name}
                for f in self.fields
            ],
        }

    @staticmethod
    def from_json(j: dict) -> "PartitionSpec":
        return PartitionSpec(
            j["spec-id"],
            tuple(PartitionField(f["source-id"], f["field-id"], f["transform"], f["name"]) for f in j["fields"]),
        )


UNPARTITIONED = PartitionSpec(0, ())

_BUCKET_TRANSFORM_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNCATE_TRANSFORM_RE = re.compile(r"^truncate\[(\d+)\]$")

# Iceberg-spec transform/source-type compatibility ("Partition Transforms"
# table; reference validates the same surface in spec/partition.go:11-19).
# float/double are EXCLUDED from bucket and truncate by the spec (NaN and
# -0.0 make their hashes/orderings unstable across engines); hour applies to
# timestamps only; year/month/day to dates and timestamps.
_BUCKETABLE = {"int", "long", "decimal", "date", "time", "timestamp",
               "timestamptz", "string", "uuid", "fixed", "binary"}
_TRUNCATABLE = {"int", "long", "decimal", "string", "binary"}
_DATE_TRANSFORM_SOURCES = {"date", "timestamp", "timestamptz"}


def _primitive_name(t) -> str | None:
    """Spec-table name for a source type; None for nested (struct/list/map)."""
    from ..schema import DecimalType, FixedType, PrimitiveType

    if isinstance(t, PrimitiveType):
        return t.name
    if isinstance(t, DecimalType):
        return "decimal"
    if isinstance(t, FixedType):
        return "fixed"
    return None


def validate_partition_spec(schema: Schema, spec: PartitionSpec) -> None:
    """Reject spec-illegal transform/source-type pairs at DDL time instead of
    producing engine-divergent layouts at write time (Iceberg spec
    "Partition Transforms"; reference: spec/partition.go:11-19). Runs on
    CREATE and on partition evolution only — never on metadata load, so
    pre-existing tables keep opening."""
    for pf in spec.fields:
        src = schema.find_field_by_id(pf.source_id)
        if src is None:
            raise ValidationError(
                f"partition field {pf.name!r}: source id {pf.source_id} not in schema")
        tname = _primitive_name(src.type)
        if tname is None:
            raise ValidationError(
                f"partition field {pf.name!r}: source column {src.name!r} is nested; "
                f"partition sources must be primitive")
        tr = pf.transform
        if tr == "void":
            continue
        if tr == "identity":
            if tname in ("binary", "fixed"):
                raise ValidationError(
                    f"partition field {pf.name!r}: identity over {tname} is not "
                    f"supported (Spark cannot partitionBy binary columns; the "
                    f"Avro wire form exists but no write path can "
                    f"produce such layouts)")
            continue
        m = _BUCKET_TRANSFORM_RE.match(tr)
        if m:
            if int(m.group(1)) < 1:
                raise ValidationError(f"partition field {pf.name!r}: bucket N must be >= 1")
            if tname not in _BUCKETABLE:
                raise ValidationError(
                    f"partition field {pf.name!r}: bucket over {tname} is not allowed "
                    f"by the Iceberg spec (unstable hash for float/double/boolean)")
            continue
        m = _TRUNCATE_TRANSFORM_RE.match(tr)
        if m:
            if int(m.group(1)) < 1:
                raise ValidationError(f"partition field {pf.name!r}: truncate W must be >= 1")
            if tname not in _TRUNCATABLE:
                raise ValidationError(
                    f"partition field {pf.name!r}: truncate over {tname} is not allowed "
                    f"by the Iceberg spec")
            if tname == "binary":
                raise ValidationError(
                    f"partition field {pf.name!r}: truncate over binary is spec-legal "
                    f"but unsupported here (Spark cannot partition by binary columns)")
            continue
        if tr in ("year", "month", "day"):
            if tname not in _DATE_TRANSFORM_SOURCES:
                raise ValidationError(
                    f"partition field {pf.name!r}: {tr} requires a date/timestamp "
                    f"source, got {tname}")
            continue
        if tr == "hour":
            if tname not in ("timestamp", "timestamptz"):
                raise ValidationError(
                    f"partition field {pf.name!r}: hour requires a timestamp source, "
                    f"got {tname}")
            continue
        raise ValidationError(f"partition field {pf.name!r}: unknown transform {tr!r}")


@dataclass(frozen=True)
class SortField:
    """Sort-order field (reference: spec/metadata.go:16-44). Metadata that the
    write path actually honors via sortWithinPartitions (unlike the reference,
    which never executes sort orders — SURVEY §2.5)."""

    source_id: int
    transform: str = "identity"
    direction: str = "asc"  # asc | desc
    null_order: str = "nulls-first"


@dataclass(frozen=True)
class SortOrder:
    order_id: int
    fields: tuple[SortField, ...] = ()

    def to_json(self) -> dict:
        return {
            "order-id": self.order_id,
            "fields": [
                {"source-id": f.source_id, "transform": f.transform, "direction": f.direction, "null-order": f.null_order}
                for f in self.fields
            ],
        }

    @staticmethod
    def from_json(j: dict) -> "SortOrder":
        return SortOrder(
            j["order-id"],
            tuple(SortField(f["source-id"], f["transform"], f["direction"], f["null-order"]) for f in j["fields"]),
        )


UNSORTED = SortOrder(0, ())


@dataclass(frozen=True)
class DataFileEntry:
    """One data / delete file in a manifest (reference: spec/manifest.go:101-149).

    ``column_stats`` maps field-id → {"min": enc, "max": enc, "null_count": n,
    "value_count": n} with an order-preserving JSON encoding per type (see
    ``write.py``). Real stats, unlike the reference's approximations
    (reference: table/writer.go:144-166 — sizes = filesize/ncols, empty bounds).
    """

    content: int  # CONTENT_*
    file_path: str
    file_format: str  # "parquet"
    spec_id: int
    schema_id: int
    record_count: int
    file_size: int
    partition: dict[str, Any]  # partition field name -> encoded value
    column_stats: dict[int, dict[str, Any]]
    sequence_number: int
    equality_ids: tuple[int, ...] = ()


def delete_applies(delete: DataFileEntry, data: DataFileEntry) -> bool:
    """Whether a MoR delete file can remove rows of a data file, by sequence
    number (Iceberg spec): a position delete applies to files of its own or
    an older sequence (it names them by path), an equality delete only to
    strictly older ones, so rows written in or after its commit survive."""
    if delete.content == CONTENT_POSITION_DELETES:
        return delete.sequence_number >= data.sequence_number
    return delete.sequence_number > data.sequence_number


def writer_schema(md: TableMetadata, schema_id: int) -> Schema | None:
    """The table schema with this id (the one a file or snapshot was written
    under), or None when the metadata no longer records it."""
    return next((s for s in md.schemas if s.schema_id == schema_id), None)


_MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("content", pa.int32()),
        ("file_path", pa.string()),
        ("file_format", pa.string()),
        ("spec_id", pa.int32()),
        ("schema_id", pa.int32()),
        ("record_count", pa.int64()),
        ("file_size", pa.int64()),
        ("partition_json", pa.string()),
        ("sequence_number", pa.int64()),
        ("equality_ids_json", pa.string()),
        # per-field stats as index-aligned parallel arrays: planners prune on
        # a single field by list position without parsing a JSON blob per
        # entry, and the distributed planner reads one field's stats with
        # array_position and get when the manifest is read as a DataFrame
        # (table/planning.py). Bound values are individually JSON-encoded
        # scalars in the order-preserving stats encoding (write.py).
        ("stats_fids", pa.list_(pa.int32())),
        ("stats_min_json", pa.list_(pa.string())),
        ("stats_max_json", pa.list_(pa.string())),
        ("stats_null_counts", pa.list_(pa.int64())),
        ("stats_value_counts", pa.list_(pa.int64())),
        # opt-in per-column bloom filters (hex bitmaps, "" = none) — point
        # lookups on unclustered columns prune files min/max cannot
        ("stats_blooms", pa.list_(pa.string())),
        # opt-in per-column NaN counts (Iceberg nan_value_counts): -1 =
        # unknown; a PROVEN 0 re-enables metadata-only deletes on float
        # columns (must_match, expr.py)
        ("stats_nan_counts", pa.list_(pa.int64())),
        # per-column bounds-exactness marker — True only when the
        # engine's writer computed the bound from the VALUES (string/binary
        # footer bounds may be writer-truncated); metadata_min_max serves
        # string/binary columns only under this marker
        ("stats_bounds_exact", pa.list_(pa.bool_())),
    ]
)


def _jenc_scalar(v) -> str:
    """json.dumps for stat bound scalars with a fast path for the dominant
    cases (None/int): manifest writes are O(entries x fields) encodes, and
    generic json.dumps was the hot loop at 250k+ entries (measured ~4 s of a
    large commit). str(int) is exactly json's integer rendering; everything
    else (float/str/bool) keeps the real encoder."""
    if v is None:
        return "null"
    if type(v) is int:  # NOT isinstance — bool must fall through to json
        return str(v)
    return json.dumps(v)


def write_manifest(path: str, entries: list[DataFileEntry], io: FileIO = LOCAL_IO) -> None:
    """Write a manifest parquet file (replaces Avro serde, spec/avro.go:91-534)."""
    cols: dict[str, list] = {n: [] for n in _MANIFEST_ARROW_SCHEMA.names}
    for e in entries:
        cols["content"].append(e.content)
        cols["file_path"].append(e.file_path)
        cols["file_format"].append(e.file_format)
        cols["spec_id"].append(e.spec_id)
        cols["schema_id"].append(e.schema_id)
        cols["record_count"].append(e.record_count)
        cols["file_size"].append(e.file_size)
        cols["partition_json"].append(json.dumps(e.partition) if e.partition else "{}")
        cols["sequence_number"].append(e.sequence_number)
        cols["equality_ids_json"].append(json.dumps(list(e.equality_ids)) if e.equality_ids else "[]")
        fids = sorted(e.column_stats)
        cols["stats_fids"].append(fids)
        cols["stats_min_json"].append([_jenc_scalar(e.column_stats[f].get("min")) for f in fids])
        cols["stats_max_json"].append([_jenc_scalar(e.column_stats[f].get("max")) for f in fids])
        cols["stats_null_counts"].append([e.column_stats[f].get("null_count") for f in fids])
        cols["stats_value_counts"].append([e.column_stats[f].get("value_count") for f in fids])
        cols["stats_blooms"].append([e.column_stats[f].get("bloom") or "" for f in fids])
        cols["stats_nan_counts"].append(
            [e.column_stats[f].get("nan_count", -1) if e.column_stats[f].get("nan_count") is not None else -1
             for f in fids])
        cols["stats_bounds_exact"].append(
            [bool(e.column_stats[f].get("bounds_exact")) for f in fids])
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table(cols, schema=_MANIFEST_ARROW_SCHEMA), buf, compression="snappy")
    io.create(path, buf.getvalue().to_pybytes(), overwrite=True)


def _entry_from_columns(d: dict, i: int) -> DataFileEntry:
    """Build one DataFileEntry from ``to_pydict`` columns of a manifest."""
    blooms, nans, bex = d["stats_blooms"][i], d["stats_nan_counts"][i], d["stats_bounds_exact"][i]
    stats = {
        int(fid): {
            "min": json.loads(d["stats_min_json"][i][j]),
            "max": json.loads(d["stats_max_json"][i][j]),
            "null_count": d["stats_null_counts"][i][j],
            "value_count": d["stats_value_counts"][i][j],
            **({"bloom": blooms[j]} if blooms[j] else {}),
            **({"nan_count": nans[j]} if nans[j] >= 0 else {}),
            **({"bounds_exact": True} if bex[j] else {}),
        }
        for j, fid in enumerate(d["stats_fids"][i])
    }
    return DataFileEntry(
        content=d["content"][i],
        file_path=d["file_path"][i],
        file_format=d["file_format"][i],
        spec_id=d["spec_id"][i],
        schema_id=d["schema_id"][i],
        record_count=d["record_count"][i],
        file_size=d["file_size"][i],
        partition=json.loads(d["partition_json"][i]),
        column_stats=stats,
        sequence_number=d["sequence_number"][i],
        equality_ids=tuple(json.loads(d["equality_ids_json"][i])),
    )


MANIFEST_LIST_SUFFIX = ".manifest-list.json"


def write_manifest_list(path: str, members: list[dict], io: FileIO = LOCAL_IO) -> None:
    """Manifest list: JSON array of {"path": <rel manifest>, "n": <entries>,
    "nd": <delete entries>, "bounds": <aggregate column-bounds JSON>}. "nd"
    and "bounds" are the Iceberg manifest-list partition-summary analogue:
    scans skip READING a delete-free member whose bounds contradict the
    filter (scan.py). The list is O(commits since last compaction); member
    manifests are immutable and REUSED across snapshots — an append commit
    writes one new member for the added files instead of rewriting the full
    live set (Iceberg's manifest-list role, reference:
    spec/manifest.go:152-205)."""
    io.create(path, json.dumps(members).encode(), overwrite=True)


def read_manifest_list(path: str, io: FileIO = LOCAL_IO) -> list[dict]:
    return json.loads(io.read(path))


def manifest_members(location: str, snap: Snapshot, io: FileIO = LOCAL_IO) -> list[dict] | None:
    """A snapshot's parquet member manifests as manifest-list records
    (``{"path", "n", "nd", "bounds"}``, paths relative to ``location``), or
    None for an Avro-only snapshot, which has no parquet members."""
    if snap.manifest_path.endswith(".avro"):
        return None
    return read_manifest_list(os.path.join(location, snap.manifest_path), io)


def read_manifest_tree(location: str, snap: Snapshot, io: FileIO = LOCAL_IO) -> list[DataFileEntry]:
    """Entries of a snapshot regardless of manifest layout."""
    members = manifest_members(location, snap, io)
    if members is None:
        from .manifest_avro import read_avro_manifest_tree

        return read_avro_manifest_tree(location, snap.manifest_path, io=io)
    return [e for m in members
            for e in read_manifest(os.path.join(location, m["path"]), io)]


def read_manifest(path: str, io: FileIO = LOCAL_IO) -> list[DataFileEntry]:
    """Driver-side full manifest read (small/medium tables, mutations that
    need every live entry). Scans over large manifests use the pruned
    readers in ``planning.py`` instead, which decode stats only for
    filter-referenced fields and only materialize surviving entries."""
    t = pq.read_table(pa.BufferReader(io.read(path)))
    d = t.to_pydict()
    return [_entry_from_columns(d, i) for i in range(t.num_rows)]


@dataclass(frozen=True)
class Snapshot:
    """Snapshot (reference: spec/snapshot.go:43-51) with summary counters
    (reference: spec/snapshot.go:20-40) — including the removed-* counts the
    reference never fills in (SURVEY §2.5 snapshot builder note)."""

    snapshot_id: int
    parent_snapshot_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str  # OP_*
    manifest_path: str  # relative to table location
    schema_id: int
    summary: dict[str, str] = dc_field(default_factory=dict)
    # Iceberg-spec Avro manifest list (dual-manifest mode: parquet members
    # back the engine's scan/planning, this tree serves external readers);
    # equals manifest_path when manifest-format=avro, None when parquet-only
    avro_manifest_path: str | None = None

    def to_json(self) -> dict:
        out = {
            "snapshot-id": self.snapshot_id,
            "parent-snapshot-id": self.parent_snapshot_id,
            "sequence-number": self.sequence_number,
            "timestamp-ms": self.timestamp_ms,
            "operation": self.operation,
            "manifest": self.manifest_path,
            "schema-id": self.schema_id,
            "summary": self.summary,
        }
        # the spec's key for the Avro manifest list, so external readers find
        # the Iceberg wire tree without knowing the engine's "manifest" key
        if self.avro_list is not None:
            out["manifest-list"] = self.avro_list
        return out

    @property
    def avro_list(self) -> str | None:
        """The snapshot's Iceberg Avro manifest list, if it has one."""
        return self.avro_manifest_path or (
            self.manifest_path if self.manifest_path.endswith(".avro") else None)

    @staticmethod
    def from_json(j: dict) -> "Snapshot":
        # V1 snapshots carry no sequence-number (implicitly 0) and may omit
        # schema-id; operation may live inside summary (Iceberg V1 layout).
        summary = j.get("summary", {})
        op = j.get("operation") or summary.get("operation", OP_APPEND)
        manifest = j.get("manifest") or j.get("manifest-list", "")
        avro = j.get("manifest-list")
        if avro is not None and not avro.endswith(".avro"):
            avro = None
        return Snapshot(
            j["snapshot-id"], j.get("parent-snapshot-id"), j.get("sequence-number", 0),
            j["timestamp-ms"], op, manifest,
            j.get("schema-id", 0), summary, avro,
        )


@dataclass(frozen=True)
class SnapshotRef:
    """Branch/tag ref with retention knobs (reference: spec/snapshot.go:64-70)."""

    snapshot_id: int
    type: str = "branch"  # branch | tag
    min_snapshots_to_keep: int | None = None
    max_snapshot_age_ms: int | None = None

    def to_json(self) -> dict:
        out: dict[str, Any] = {"snapshot-id": self.snapshot_id, "type": self.type}
        if self.min_snapshots_to_keep is not None:
            out["min-snapshots-to-keep"] = self.min_snapshots_to_keep
        if self.max_snapshot_age_ms is not None:
            out["max-snapshot-age-ms"] = self.max_snapshot_age_ms
        return out

    @staticmethod
    def from_json(j: dict) -> "SnapshotRef":
        return SnapshotRef(j["snapshot-id"], j.get("type", "branch"), j.get("min-snapshots-to-keep"), j.get("max-snapshot-age-ms"))


def new_snapshot_id() -> int:
    """Random 63-bit id (fixes reference's wall-clock ids, table/table.go:301)."""
    return secrets.randbits(62) + 1


def now_ms() -> int:
    return int(time.time() * 1000)


@dataclass(frozen=True)
class TableMetadata:
    """Full table metadata (reference: spec/metadata.go:55-78)."""

    table_uuid: str
    location: str
    schemas: tuple[Schema, ...]
    current_schema_id: int
    partition_specs: tuple[PartitionSpec, ...]
    default_spec_id: int
    sort_orders: tuple[SortOrder, ...]
    default_sort_order_id: int
    properties: dict[str, str]
    snapshots: tuple[Snapshot, ...]
    current_snapshot_id: int | None
    snapshot_log: tuple[dict, ...]  # {"timestamp-ms", "snapshot-id"} (reference: spec/snapshot.go:73-76)
    metadata_log: tuple[dict, ...]
    refs: dict[str, SnapshotRef]
    last_sequence_number: int = 0
    last_updated_ms: int = 0

    # -- accessors ---------------------------------------------------------
    @property
    def current_schema(self) -> Schema:
        for s in self.schemas:
            if s.schema_id == self.current_schema_id:
                return s
        raise ValidationError(f"current schema {self.current_schema_id} not found")

    @property
    def default_spec(self) -> PartitionSpec:
        for s in self.partition_specs:
            if s.spec_id == self.default_spec_id:
                return s
        return UNPARTITIONED

    @property
    def default_sort_order(self) -> SortOrder:
        for s in self.sort_orders:
            if s.order_id == self.default_sort_order_id:
                return s
        return UNSORTED

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return self.snapshot_by_id(self.current_snapshot_id)

    def snapshot_by_id(self, sid: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise NoSuchSnapshotError(f"snapshot {sid} not found")

    def snapshot_at(self, ts_ms: int) -> Snapshot:
        """Latest snapshot with timestamp_ms <= ts (reference: table/table.go:98-121)."""
        best: Snapshot | None = None
        for s in self.snapshots:
            if s.timestamp_ms <= ts_ms and (best is None or s.timestamp_ms > best.timestamp_ms):
                best = s
        if best is None:
            raise NoSuchSnapshotError(f"no snapshot at or before {ts_ms}")
        return best

    # -- serde -------------------------------------------------------------
    def to_json(self) -> dict:
        return {
            "format-version": FORMAT_VERSION,
            "table-uuid": self.table_uuid,
            "location": self.location,
            "last-sequence-number": self.last_sequence_number,
            "last-updated-ms": self.last_updated_ms,
            "schemas": [schema_to_json(s) for s in self.schemas],
            "current-schema-id": self.current_schema_id,
            "partition-specs": [s.to_json() for s in self.partition_specs],
            "default-spec-id": self.default_spec_id,
            "sort-orders": [s.to_json() for s in self.sort_orders],
            "default-sort-order-id": self.default_sort_order_id,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "current-snapshot-id": self.current_snapshot_id,
            "snapshot-log": list(self.snapshot_log),
            "metadata-log": list(self.metadata_log),
            "refs": {k: v.to_json() for k, v in self.refs.items()},
        }

    @staticmethod
    def from_json(j: dict) -> "TableMetadata":
        """Parse metadata, migrating V1 documents to the V2 model on read
        (reference: spec/metadata.go:161-184): single ``schema`` wraps into
        ``schemas``, flat ``partition-spec`` fields wrap into spec 0, missing
        sort orders default to unsorted, snapshots get sequence-number 0."""
        version = j.get("format-version", 2)
        if version not in (1, 2):
            raise ValidationError(f"unsupported format-version {version} (supported: 1, 2)")
        j = dict(j)
        if version == 1:
            if j.get("schema") is not None and not j.get("schemas"):
                j["schemas"] = [j["schema"]]
                j["current-schema-id"] = j["schema"].get("schema-id", 0)
            if j.get("partition-spec") and not j.get("partition-specs"):
                j["partition-specs"] = [{"spec-id": 0, "fields": j["partition-spec"]}]
                j["default-spec-id"] = 0
        return TableMetadata(
            table_uuid=j["table-uuid"],
            location=j["location"],
            schemas=tuple(schema_from_json(s) for s in j["schemas"]),
            current_schema_id=j["current-schema-id"],
            partition_specs=tuple(PartitionSpec.from_json(s) for s in j.get("partition-specs", [{"spec-id": 0, "fields": []}])),
            default_spec_id=j.get("default-spec-id", 0),
            sort_orders=tuple(SortOrder.from_json(s) for s in j.get("sort-orders", [])),
            default_sort_order_id=j.get("default-sort-order-id", 0),
            properties=j.get("properties", {}),
            snapshots=tuple(Snapshot.from_json(s) for s in j.get("snapshots", [])),
            current_snapshot_id=j.get("current-snapshot-id"),
            snapshot_log=tuple(j.get("snapshot-log", [])),
            metadata_log=tuple(j.get("metadata-log", [])),
            refs={k: SnapshotRef.from_json(v) for k, v in j.get("refs", {}).items()},
            last_sequence_number=j.get("last-sequence-number", 0),
            last_updated_ms=j.get("last-updated-ms", 0),
        )

    @staticmethod
    def new(location: str, schema: Schema, spec: PartitionSpec = UNPARTITIONED,
            sort_order: SortOrder = UNSORTED, properties: dict[str, str] | None = None) -> "TableMetadata":
        validate_partition_spec(schema, spec)
        return TableMetadata(
            table_uuid=str(uuid_mod.uuid4()),
            location=location,
            schemas=(schema,),
            current_schema_id=schema.schema_id,
            partition_specs=(spec,),
            default_spec_id=spec.spec_id,
            sort_orders=(sort_order,),
            default_sort_order_id=sort_order.order_id,
            properties=properties or {},
            snapshots=(),
            current_snapshot_id=None,
            snapshot_log=(),
            metadata_log=(),
            refs={},
            last_sequence_number=0,
            last_updated_ms=now_ms(),
        )

    def with_snapshot(self, snap: Snapshot, ref: str = MAIN_BRANCH) -> "TableMetadata":
        refs = dict(self.refs)
        refs[ref] = SnapshotRef(snap.snapshot_id, "branch")
        md = replace(
            self,
            snapshots=self.snapshots + (snap,),
            snapshot_log=self.snapshot_log + ({"timestamp-ms": snap.timestamp_ms, "snapshot-id": snap.snapshot_id},),
            last_sequence_number=max(self.last_sequence_number, snap.sequence_number),
            last_updated_ms=now_ms(),
            refs=refs,
        )
        if ref == MAIN_BRANCH:
            md = replace(md, current_snapshot_id=snap.snapshot_id)
        return md


# ---------------------------------------------------------------------------
# Snapshot lineage
#
# A table's history is a chain of snapshots linked by parent id (reference:
# spec/snapshot.go:43-51). Every walk of that chain, every snapshot-vs-parent
# delta and the expiry rewire live here, Spark-free, so the driver, the REST
# server and the streaming source's planner apply one set of rules.
# ---------------------------------------------------------------------------


def ancestors(md: TableMetadata, snapshot_id: int | None) -> list[Snapshot]:
    """``snapshot_id``'s snapshot and its retained parents, newest first.
    The walk stops at the first parent that is no longer in ``md``."""
    by_id = {s.snapshot_id: s for s in md.snapshots}
    out: list[Snapshot] = []
    snap = by_id.get(snapshot_id)
    while snap is not None and len(out) < len(by_id):  # bounded on a cycle
        out.append(snap)
        snap = by_id.get(snap.parent_snapshot_id)
    return out


def snapshots_between(md: TableMetadata, from_id: int | None,
                      to_id: int | None) -> list[Snapshot]:
    """The lineage range (from, to], oldest first. ``None`` from is the
    table start; ``None`` to is the current snapshot. Raises when either end
    is unknown or expired, when ``from`` is not an ancestor of ``to``, or
    when a snapshot between them is no longer retained."""
    if to_id is None:
        to_id = md.current_snapshot_id
        if to_id is None:
            return []
    ids = {s.snapshot_id for s in md.snapshots}
    if to_id not in ids:
        raise ValidationError(f"unknown to_snapshot_id {to_id}: it does not "
                              "exist or has been expired")
    if from_id is not None and from_id not in ids:
        # the start's manifest (what a reader already consumed) is gone, so
        # the range cannot be reconstructed; a stream restarts from a fresh
        # checkpoint, and expiry retention should cover readers' start ids
        raise ValidationError(
            f"unknown from_snapshot_id {from_id}: it does not exist or has "
            "been expired from the table's history; the range cannot be "
            "reconstructed (restart a stream with a fresh checkpoint, and "
            "size expire_snapshots retention to cover readers' start)")
    chain: list[Snapshot] = []
    for snap in ancestors(md, to_id):
        if snap.snapshot_id == from_id:
            return chain[::-1]
        chain.append(snap)
    gap = chain[-1].parent_snapshot_id
    if gap is not None:
        raise ValidationError(f"snapshot {gap} in range ({from_id}, {to_id}] "
                              "is no longer retained")
    if from_id is not None:
        raise ValidationError(
            f"from_snapshot_id {from_id} is not an ancestor of {to_id}")
    return chain[::-1]


def parent_of(md: TableMetadata, snap: Snapshot) -> Snapshot | None:
    """``snap``'s parent, or None for the first snapshot of a lineage.
    Raises when the parent is no longer retained."""
    if snap.parent_snapshot_id is None:
        return None
    try:
        return md.snapshot_by_id(snap.parent_snapshot_id)
    except NoSuchSnapshotError:
        raise ValidationError(
            f"parent snapshot {snap.parent_snapshot_id} of {snap.snapshot_id} "
            "is no longer retained; cannot compute the snapshot's delta — "
            "start from a retained snapshot instead") from None


def snapshot_delta(md: TableMetadata, snap: Snapshot, entries_of
                   ) -> tuple[list[DataFileEntry], list[DataFileEntry]]:
    """(added, removed) entries of ``snap`` against its parent, added in
    ``snap``'s manifest order. Each snapshot's manifest tree lists its full
    live set, so the delta is a path set difference. ``entries_of(snap)``
    reads a snapshot's entries. Raises when the parent is no longer
    retained: diffing against nothing would report the whole live set as
    added."""
    cur = {e.file_path: e for e in entries_of(snap)}
    parent = parent_of(md, snap)
    if parent is None:
        return list(cur.values()), []
    prev = {e.file_path: e for e in entries_of(parent)}
    return ([e for p, e in cur.items() if p not in prev],
            [e for p, e in prev.items() if p not in cur])


def appended_entries(md: TableMetadata, snap: Snapshot, entries_of,
                     skip_non_append: bool) -> list[DataFileEntry]:
    """The data files ``snap`` appends, for an append-only read (an
    incremental scan or a snapshot stream).

    A ``rows-preserved`` replace (compaction, Z-order or manifest rewrite)
    moves rows between files without adding any, so it contributes nothing.
    Any other non-append snapshot changes rows an append-only read cannot
    represent: it is skipped under ``skip_non_append`` and raises otherwise.
    UPDATE also commits a replace, but without the marker, so updated rows
    are never silently dropped."""
    if snap.operation == OP_REPLACE and snap.summary.get("rows-preserved") == "true":
        return []
    if snap.operation != OP_APPEND:
        if skip_non_append:
            return []
        raise ValidationError(
            f"snapshot {snap.snapshot_id} is {snap.operation!r}, not append; "
            "an append-only read cannot represent it — skip it with "
            "ignore_non_append=True (incremental scan) or "
            ".option('skip-non-append', 'true') (stream), or read "
            "table.changes() for row-level CDC")
    added, _ = snapshot_delta(md, snap, entries_of)
    return [e for e in added if e.content == CONTENT_DATA]


def without_snapshots(md: TableMetadata, doomed_ids) -> TableMetadata:
    """``md`` without the ``doomed_ids`` snapshots and their log entries.

    Each retained snapshot whose parent is gone points at its nearest
    retained ancestor on the original chain (None past the oldest), never
    at the previous retained snapshot by time, which with interleaved
    branch commits would wire a main snapshot onto a branch one. A rewired
    snapshot is stamped ``parent-rewired``: its delta against the new
    parent includes what the removed gap added, so it no longer says what
    the snapshot itself committed (cherrypick refuses it)."""
    doomed = set(doomed_ids)
    by_id = {s.snapshot_id: s for s in md.snapshots}
    kept = by_id.keys() - doomed

    def rewired(s: Snapshot) -> Snapshot:
        pid = s.parent_snapshot_id
        if pid is None or pid in kept:
            return s
        while pid is not None and pid not in kept:
            pid = by_id[pid].parent_snapshot_id if pid in by_id else None
        return replace(s, parent_snapshot_id=pid,
                       summary={**s.summary, "parent-rewired": "true"})

    return replace(
        md,
        snapshots=tuple(rewired(s) for s in md.snapshots if s.snapshot_id in kept),
        snapshot_log=tuple(e for e in md.snapshot_log if e["snapshot-id"] in kept),
        last_updated_ms=now_ms(),
    )


# ---------------------------------------------------------------------------
# Commit protocol
#
# A table's metadata is the highest ``v{N}.metadata.json`` in its metadata
# directory, found by listing it through the table's FileIO. A commit
# publishes v{N+1} with the FileIO's exclusive create, so of two writers
# racing for one version exactly one wins, and a reader never sees a partly
# written version (LocalFileIO links a complete temp file into place; an S3
# PUT is atomic).
# ---------------------------------------------------------------------------


def metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def _version_of(name: str) -> int | None:
    if name.startswith("v") and name.endswith(".metadata.json"):
        try:
            return int(name[1 : -len(".metadata.json")])
        except ValueError:
            return None
    return None


def current_metadata_version(location: str, io: FileIO = LOCAL_IO) -> int:
    """Highest committed version, 0 if none."""
    versions = [_version_of(os.path.basename(p)) for p in io.list(metadata_dir(location))]
    return max((v for v in versions if v is not None), default=0)


def load_metadata(location: str, io: FileIO = LOCAL_IO) -> tuple[TableMetadata, int]:
    v = current_metadata_version(location, io)
    if v == 0:
        raise ValidationError(f"no metadata at {location}")
    path = os.path.join(metadata_dir(location), f"v{v}.metadata.json")
    # Versions are published whole, so the decode-retry below is defense in
    # depth (e.g. a file an older engine build streamed into the final
    # name): a half-readable NEWEST version means a commit is in flight, so
    # wait briefly, then serialize this read before that commit by stepping
    # back one version. Only DECODE failures take this path — a transient
    # resource error (EMFILE, EACCES) is a real error the caller must see,
    # not a silent step-back to stale metadata; and when we DO step back,
    # say so: a permanently corrupt newest version would otherwise hide
    # forever.
    last_err: Exception | None = None
    for attempt in range(5):
        try:
            return TableMetadata.from_json(json.loads(io.read(path))), v
        except json.JSONDecodeError as e:
            last_err = e
            time.sleep(0.01 * (attempt + 1))
        except FileNotFoundError:
            # retention race (delete-after-commit + small previous-versions
            # -max): the version we listed was trimmed by a commit that
            # landed between our list and read — re-list; a NEWER current
            # version provably exists, so this converges
            nv = current_metadata_version(location, io)
            if nv <= v:
                raise ValidationError(
                    f"metadata v{v} at {location!r} vanished without a newer "
                    f"version (current={nv}) — not a retention race; retry "
                    "or repair the metadata directory")
            v = nv
            path = os.path.join(metadata_dir(location), f"v{v}.metadata.json")
    if v > 1:
        import warnings

        warnings.warn(
            f"metadata v{v} at {location!r} undecodable after retries "
            f"({last_err}); serving v{v - 1} — if this repeats, v{v} is "
            f"corrupt, not a commit in flight",
            RuntimeWarning,
            stacklevel=2,
        )
        prev = os.path.join(metadata_dir(location), f"v{v - 1}.metadata.json")
        try:
            return TableMetadata.from_json(json.loads(io.read(prev))), v - 1
        except FileNotFoundError:
            # v-1 trimmed by retention while v is undecodable: a commit is
            # in flight (or just landed) — tell the caller to retry rather
            # than crash with a bare FileNotFoundError
            raise ValidationError(
                f"metadata v{v} at {location!r} undecodable and v{v - 1} "
                f"already retention-trimmed — a commit is in flight; retry "
                "the read") from last_err
    raise ValidationError(
        f"metadata v{v} at {location!r} undecodable after retries: {last_err}"
    ) from last_err


PREVIOUS_VERSIONS_MAX_PROP = "write.metadata.previous-versions-max"
DELETE_AFTER_COMMIT_PROP = "write.metadata.delete-after-commit.enabled"


def _previous_versions_max(md: TableMetadata) -> int:
    try:
        return max(1, int(md.properties.get(PREVIOUS_VERSIONS_MAX_PROP, "100")))
    except (TypeError, ValueError):
        return 100


def _delete_old_metadata(location: str, md: TableMetadata, new_v: int,
                         io: FileIO = LOCAL_IO) -> None:
    """Iceberg ``write.metadata.delete-after-commit.enabled``: after a
    successful commit, physically delete metadata versions older than the
    newest ``previous-versions-max`` — without it a long-lived table
    accumulates one metadata file PER COMMIT forever. Keeps v(new-N)..v(new),
    so the corrupt-newest step-back reader (one version) and the commit
    guard (the expected version) always find their files. Oldest first, so
    no version is missing while an older one still exists, which the
    commit guard relies on. Best effort: a failed delete never fails the
    already-durable commit."""
    if str(md.properties.get(DELETE_AFTER_COMMIT_PROP, "false")).lower() != "true":
        return
    # the property counts PREVIOUS versions (current excluded), so
    # v(new-N)..v(new) survive and everything at or below new-N-1 goes
    cutoff = new_v - _previous_versions_max(md) - 1
    if cutoff < 1:
        return
    try:
        paths = io.list(metadata_dir(location))
    except OSError:
        return
    doomed = sorted((v, p) for p in paths
                    if (v := _version_of(os.path.basename(p))) is not None and v <= cutoff)
    for _, p in doomed:
        try:
            io.delete(p)
        except OSError:
            pass


def commit_metadata(location: str, md: TableMetadata, expected_version: int,
                    io: FileIO = LOCAL_IO) -> int:
    """Atomically commit metadata as version ``expected_version + 1``.

    The FileIO's exclusive create of the new version provides the
    optimistic-concurrency check the reference delegates to REST
    assert-ref-snapshot-id requirements (reference: table/table.go:163-176);
    a collision raises the retryable CommitConflictError (reference:
    errors.go:115-123).

    A guard runs first: ``v{expected_version}`` must still exist. If it is
    gone while a newer version exists, retention trimmed it behind newer
    commits, so this handle is stale: CommitConflictError, and the caller's
    retry reloads. (Creating the trimmed v{expected+1} slot instead would
    publish a version no reader ever picks over the newer ones, and the
    commit's rows would be lost.) If no version exists, the table was
    dropped or renamed under this handle: TableNotFoundError, before any
    write, so no zombie metadata directory is created.
    """
    mdir = metadata_dir(location)
    new_v = expected_version + 1
    path = os.path.join(mdir, f"v{new_v}.metadata.json")
    # metadata-log retention (Iceberg write.metadata.previous-versions-max,
    # default 100): without the trim the log array grows by one entry PER
    # COMMIT inside every new metadata file — quadratic metadata bytes over
    # a table's life (a 10^6-commit table would carry a 10^6-entry array in
    # each of 10^6 files). The trim keeps the newest N entries, matching
    # Iceberg's TableMetadata.addPreviousFile behavior.
    prev_max = _previous_versions_max(md)
    new_log = (md.metadata_log
               + ({"timestamp-ms": now_ms(),
                   "metadata-file": f"v{expected_version}.metadata.json"},)
               if expected_version > 0 else md.metadata_log)
    md = replace(md, metadata_log=new_log[-prev_max:])
    if expected_version > 0 and not io.exists(
            os.path.join(mdir, f"v{expected_version}.metadata.json")):
        current = current_metadata_version(location, io)
        if current > expected_version:
            raise CommitConflictError(
                f"metadata v{expected_version} at {location!r} was superseded "
                f"(current v{current}) and retention-trimmed; reload and retry")
        raise TableNotFoundError(
            f"metadata v{expected_version} gone at {location!r} (table "
            f"dropped or renamed concurrently); reload from the catalog")
    try:
        io.create(path, json.dumps(md.to_json(), indent=1).encode())
    except FileExistsError as e:
        raise CommitConflictError(f"metadata version {new_v} already committed at {location}") from e
    # best-effort current pointer (readers use the version listing as truth)
    try:
        io.create(os.path.join(mdir, "version-hint.text"), str(new_v).encode(), overwrite=True)
    except OSError:
        pass
    _delete_old_metadata(location, md, new_v, io)
    return new_v

"""Iceberg-spec Avro manifests: manifest-list + manifest OCF files.

The JSON/parquet manifest dialect (metadata.py) is the engine's native,
Spark-prunable format; THIS module adds the Iceberg wire format so external
Iceberg readers can consume engine-written tables. Layout matches the
reference (reference: spec/avro.go:91-171 manifest-list write, :178-244 list
read, :259-335 partition-aware manifest schema, :338-534 entry serde,
:814-883 bound-value serde) re-derived from the public Iceberg spec — field
ids 500-519 (manifest_file), 0-4 (manifest_entry), 100-142 (data_file), and
the little-endian single-value bound encoding are all from the spec's
Appendix C/D.

Mapping to the engine's model:
- one Avro manifest per (content, schema-id) group — an Iceberg manifest
  carries exactly one schema, and grouping by writer schema preserves the
  per-entry ``schema_id`` the scan's evolution alignment needs;
- the manifest list references every group manifest; the snapshot's manifest
  pointer is the LIST file;
- bounds are serialized with the spec's binary single-value encoding, keyed
  by field id; uuid bounds use the spec's 16-byte big-endian form, binary
  bounds decode the engine's hex stat space;
- partition values serialize as the spec's TYPED partition struct (field 102):
  each field's Avro type is the transform RESULT type (bucket→int,
  year/month/hour→int ordinals since 1970, day→date, identity→source type,
  timestamp→timestamp-micros, time→time-micros, decimal→fixed decimal
  logical type, truncate[decimal]→decimal, float→float, double→double,
  binary→bytes, fixed→fixed), converted from the engine's string
  encoding on write and back on read — the read side reproduces the
  exact engine strings (trailing-zero-trimmed timestamp fractions,
  full-scale decimal rendering, canonical shortest-repr floats, hex
  binary) so both dialects stay bit-identical. The only remaining
  [null, string] fallback is a partition field whose SOURCE is unknown
  to the schema (``_typed_partition_type`` returns None) — there the
  engine string passes through untouched.
  A manifest whose OCF writer schema declares a partition field
  [null, string] (an external writer's) keeps its string values: the
  reader keys off that schema and passes them through unconverted.

Float/double and binary/fixed partitions are typed too. Java 17's
``Float/Double.toString`` dir-name rendering (e.g. ``1.23456792E8``)
cannot be regenerated in Python from the typed value, and reimplementing
``FloatingDecimal`` would risk a silent near-miss between the dialects,
so the ENGINE's partition-string space is canonical instead:
``write.canonicalize_partition_values`` parses the Java text once at
path-derivation time and re-renders it as shortest-repr (float32 values
narrow-then-widen first), so string↔typed is an exact inverse by
construction — the dir name on disk keeps Java's spelling, the metadata
never depends on it. binary/fixed reuse the engine's hex stat-space
convention (Spark cannot ``partitionBy`` binary, so these arise only via
constructed specs/manifests — the wire form is spec-typed either way).
"""

from __future__ import annotations

import decimal
import json
import os
import struct
from typing import Any

from ..avro import read_ocf, write_ocf
from ..errors import ValidationError
from ..io.fileio import LOCAL_IO, FileIO
from ..schema import (
    DecimalType,
    IcebergType,
    PrimitiveType,
    Schema,
    schema_from_json,
    schema_to_json,
)
from .metadata import (
    CONTENT_DATA,
    DataFileEntry,
    PartitionSpec,
)

# ---------------------------------------------------------------------------
# single-value binary serde (Iceberg spec Appendix D; reference: spec/avro.go:814-883)
# ---------------------------------------------------------------------------


def bound_to_bytes(t: IcebergType, enc_val: Any) -> bytes | None:
    """Engine stat encoding (write.py encode_stat: dates→days, ts→µs,
    decimal→unscaled int) → Iceberg binary single-value bytes. None when the
    value does not convert (e.g. a parquet-truncated uuid string bound)."""
    if enc_val is None:
        return None
    if isinstance(t, PrimitiveType):
        n = t.name
        if n == "boolean":
            return b"\x01" if enc_val else b"\x00"
        if n in ("int", "date"):
            return struct.pack("<i", int(enc_val))
        if n in ("long", "time", "timestamp", "timestamptz"):
            return struct.pack("<q", int(enc_val))
        if n == "float":
            return struct.pack("<f", float(enc_val))
        if n == "double":
            return struct.pack("<d", float(enc_val))
        if n == "string":
            return str(enc_val).encode("utf-8")
        if n in ("binary", "fixed"):
            return bytes.fromhex(enc_val)  # engine stat space stores hex
        if n == "uuid":
            # spec Appendix D: 16-byte big-endian; engine stat space holds
            # the canonical string (uuid surfaces as Spark StringType)
            import uuid as _uuid
            try:
                return _uuid.UUID(str(enc_val)).bytes
            except ValueError:
                return None  # stat was a truncated/garbage string bound
        return None
    from ..schema import FixedType

    if isinstance(t, FixedType):
        return bytes.fromhex(enc_val)  # engine stat space stores hex
    if isinstance(t, DecimalType) and isinstance(enc_val, int):  # unscaled int
        length = max(1, (enc_val.bit_length() + 8) // 8)  # two's-complement minimal
        return enc_val.to_bytes(length, "big", signed=True)
    return None


def bound_from_bytes(t: IcebergType, raw: bytes | None) -> Any:
    """Inverse of ``bound_to_bytes`` — back into the engine's stat space."""
    if raw is None:
        return None
    if isinstance(t, PrimitiveType):
        n = t.name
        if n == "boolean":
            return raw != b"\x00"
        if n in ("int", "date"):
            return struct.unpack("<i", raw)[0]
        if n in ("long", "time", "timestamp", "timestamptz"):
            return struct.unpack("<q", raw)[0]
        if n == "float":
            return struct.unpack("<f", raw)[0]
        if n == "double":
            return struct.unpack("<d", raw)[0]
        if n == "string":
            return raw.decode("utf-8")
        if n in ("binary", "fixed"):
            return raw.hex()
        if n == "uuid":
            import uuid as _uuid
            return str(_uuid.UUID(bytes=raw))
        return None
    if isinstance(t, DecimalType):
        # engine stat space is the unscaled int itself — identical to
        # the spec's two's-complement payload, just widened to a Python int
        return int.from_bytes(raw, "big", signed=True)
    from ..schema import FixedType

    if isinstance(t, FixedType):
        return raw.hex()
    return None


# ---------------------------------------------------------------------------
# Avro schemas (field ids from the Iceberg spec, Appendix C)
# ---------------------------------------------------------------------------


def _opt(field_id: int, name: str, typ: Any) -> dict:
    return {"name": name, "type": ["null", typ], "default": None, "field-id": field_id}


def _req(field_id: int, name: str, typ: Any) -> dict:
    return {"name": name, "type": typ, "field-id": field_id}


def _kv_array(name: str, key_id: int, value_id: int, value_type: str) -> dict:
    """Iceberg's map-as-array-of-records encoding (k{key_id}_v{value_id})."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k{key_id}_v{value_id}",
            "fields": [
                _req(key_id, "key", "int"),
                _req(value_id, "value", value_type),
            ],
        },
        "logicalType": "map",
    }


FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        _req(509, "contains_null", "boolean"),
        _opt(518, "contains_nan", "boolean"),
        _opt(510, "lower_bound", "bytes"),
        _opt(511, "upper_bound", "bytes"),
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _req(500, "manifest_path", "string"),
        _req(501, "manifest_length", "long"),
        _req(502, "partition_spec_id", "int"),
        _req(517, "content", "int"),
        _req(515, "sequence_number", "long"),
        _req(516, "min_sequence_number", "long"),
        _req(503, "added_snapshot_id", "long"),
        _req(504, "added_files_count", "int"),
        _req(505, "existing_files_count", "int"),
        _req(506, "deleted_files_count", "int"),
        _req(512, "added_rows_count", "long"),
        _req(513, "existing_rows_count", "long"),
        _req(514, "deleted_rows_count", "long"),
        _opt(507, "partitions", {"type": "array", "items": FIELD_SUMMARY_SCHEMA, "element-id": 508}),
        _opt(519, "key_metadata", "bytes"),
    ],
}


def _transform_result_type(pf, schema: Schema) -> IcebergType | None:
    """Iceberg result type of a partition field's transform (spec §Partition
    Transforms), or None when the source field is unknown."""
    from .write import _BUCKET_RE, _TRUNCATE_RE

    if _BUCKET_RE.match(pf.transform) or pf.transform in ("year", "month", "hour", "void"):
        return PrimitiveType("int")
    src = schema.find_field_by_id(pf.source_id)
    if src is None:
        return None
    if pf.transform == "day":
        return PrimitiveType("date")
    if pf.transform == "identity" or _TRUNCATE_RE.match(pf.transform):
        return src.type
    return None


def _decimal_fixed_size(precision: int) -> int:
    """Minimum two's-complement bytes holding ±(10^p − 1) — the spec's
    fixed size for a decimal of the given precision."""
    return (10 ** precision - 1).bit_length() // 8 + 1


def _typed_partition_type(pf, schema: Schema):
    """(result_type, avro_type) for a partition field; None only when the
    source field is unknown to the given schema (→ the [null, string]
    fallback carries whatever string the engine holds). Every spec type
    has a typed wire form: float/double are exact because the engine
    canonicalizes their partition strings to a Python-derivable
    rendering (write.canonicalize_partition_values), and binary/fixed use
    the engine's hex string convention (same space as column stats)."""
    from ..schema import FixedType

    t = _transform_result_type(pf, schema)
    if t is None:
        return None
    if isinstance(t, DecimalType):
        return t, {
            "type": "fixed", "name": f"dec_{pf.field_id}",
            "size": _decimal_fixed_size(t.precision),
            "logicalType": "decimal", "precision": t.precision, "scale": t.scale,
        }
    if isinstance(t, FixedType):
        return t, {"type": "fixed", "name": f"fix_{pf.field_id}",
                   "size": t.length}
    if not isinstance(t, PrimitiveType):
        return None
    avro = {
        "boolean": "boolean",
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "binary": "bytes",
        "date": {"type": "int", "logicalType": "date"},
        "time": {"type": "long", "logicalType": "time-micros"},
        "timestamp": {"type": "long", "logicalType": "timestamp-micros",
                      "adjust-to-utc": False},
        "timestamptz": {"type": "long", "logicalType": "timestamp-micros",
                        "adjust-to-utc": True},
        "uuid": {"type": "fixed", "name": f"uuid_{pf.field_id}", "size": 16,
                 "logicalType": "uuid"},
    }.get(t.name)
    if avro is None:
        return None  # unknown primitive: string fallback
    return t, avro


# -- engine path-string <-> typed-value round-trip helpers -------------------
# Spark's partitionBy writes Hive dir names with Java formatting; the read
# side must regenerate those EXACT strings so the Avro dialect stays
# bit-identical with the parquet dialect (partition dicts are compared and
# hashed as strings throughout the engine).


def _ts_string_to_micros(s: str) -> int:
    import datetime as dt

    d = dt.datetime.fromisoformat(s)
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return (d - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _micros_to_ts_str(us: int) -> str:
    """Micros → Spark's partition dir rendering: seconds, then the
    fractional part only when nonzero, trailing zeros trimmed
    (``2024-03-01 12:34:56``, ``...56.5`` for 500000 µs)."""
    import datetime as dt

    base = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    s = base.strftime("%Y-%m-%d %H:%M:%S")
    frac = int(us) % 1_000_000
    if frac:
        s += "." + f"{frac:06d}".rstrip("0")
    return s


def _decimal_plain_str(unscaled: int, scale: int) -> str:
    """Unscaled int → Spark's full-scale plain rendering (``12.50`` for
    1250/scale 2) without Decimal-context rounding."""
    sign = "-" if unscaled < 0 else ""
    digits = str(abs(unscaled))
    if scale <= 0:
        return sign + digits + "0" * (-scale)
    digits = digits.rjust(scale + 1, "0")
    return f"{sign}{digits[:-scale]}.{digits[-scale:]}"


def _partition_value_to_typed(pf, t, v):
    """Engine path-derived string → spec typed value (write side)."""
    import datetime as dt
    import uuid as _uuid

    if v is None:
        return None
    s = str(v)
    if pf.transform == "year":
        return int(s) - 1970
    if pf.transform == "month":
        y, m = s.split("-")
        return (int(y) - 1970) * 12 + int(m) - 1
    if pf.transform == "day":
        return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days
    if pf.transform == "hour":
        y, m, d, h = s.split("-")
        return int(
            (dt.datetime(int(y), int(m), int(d), int(h), tzinfo=dt.timezone.utc)
             - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)).total_seconds() // 3600
        )
    if isinstance(t, DecimalType):
        unscaled = int(
            decimal.Decimal(s).scaleb(t.scale, decimal.Context(prec=60)).to_integral_value()
        )
        return unscaled.to_bytes(_decimal_fixed_size(t.precision), "big", signed=True)
    from ..schema import FixedType

    if isinstance(t, FixedType):
        b = bytes.fromhex(s)  # engine convention: hex (stat space)
        if len(b) != t.length:
            raise ValidationError(
                f"fixed[{t.length}] partition value for {pf.name} has "
                f"{len(b)} bytes: {s!r}")
        return b
    n = t.name
    if n == "boolean":
        return s.lower() == "true"
    if n in ("int", "long", "time"):
        return int(s)
    if n == "float":
        # canonical strings are float32-exact (canonicalize_partition_values
        # narrows through float32), so the Avro 4-byte value loses nothing
        return struct.unpack("<f", struct.pack("<f", float(s)))[0]
    if n == "double":
        return float(s)
    if n in ("timestamp", "timestamptz"):
        return _ts_string_to_micros(s)
    if n == "string":
        return s
    if n == "binary":
        return bytes.fromhex(s)  # engine convention: hex (stat space)
    if n == "date":
        return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days
    if n == "uuid":
        return _uuid.UUID(s).bytes
    raise ValidationError(f"untyped partition value for {pf.name}: {s!r}")


def _typed_to_partition_value(pf, t, v):
    """Spec typed value → the exact engine path-derived string (read side,
    inverse of _partition_value_to_typed)."""
    import datetime as dt
    import uuid as _uuid

    if v is None:
        return None
    if pf.transform == "year":
        return str(int(v) + 1970)
    if pf.transform == "month":
        return f"{1970 + int(v) // 12:04d}-{int(v) % 12 + 1:02d}"
    if pf.transform == "day":
        return (dt.date(1970, 1, 1) + dt.timedelta(days=int(v))).isoformat()
    if pf.transform == "hour":
        ts = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(hours=int(v))
        return ts.strftime("%Y-%m-%d-%H")
    if isinstance(t, DecimalType):
        return _decimal_plain_str(int.from_bytes(bytes(v), "big", signed=True), t.scale)
    from ..schema import FixedType

    if isinstance(t, FixedType):
        return bytes(v).hex()
    n = t.name
    if n == "boolean":
        return "true" if v else "false"
    if n in ("int", "long", "time"):
        return str(int(v))
    if n in ("float", "double"):
        # exact inverse: engine float/double strings are canonical
        # (write.canonical_float_str of the widened wire value)
        from .write import canonical_float_str

        return canonical_float_str(float(v))
    if n in ("timestamp", "timestamptz"):
        return _micros_to_ts_str(int(v))
    if n == "string":
        return str(v)
    if n == "binary":
        return bytes(v).hex()
    if n == "date":
        return (dt.date(1970, 1, 1) + dt.timedelta(days=int(v))).isoformat()
    if n == "uuid":
        return str(_uuid.UUID(bytes=bytes(v)))
    raise ValidationError(f"untyped partition read for {pf.name}")


def partition_record_schema(spec: PartitionSpec, schema: Schema | None = None) -> dict:
    """The partition tuple (field 102) — the spec's TYPED partition struct: each field
    is the transform's result type (reference partition-aware schema:
    spec/avro.go:302-335). Fields whose engine string encoding has no
    unambiguous typed round-trip stay [null, string]."""
    fields = []
    for pf in spec.fields:
        typed = _typed_partition_type(pf, schema) if schema is not None else None
        fields.append(_opt(pf.field_id, pf.name, typed[1] if typed else "string"))
    return {"type": "record", "name": "r102", "fields": fields}


def _partition_record(spec: PartitionSpec, schema: Schema, partition: dict) -> dict:
    out = {}
    for pf in spec.fields:
        v = partition.get(pf.name)
        typed = _typed_partition_type(pf, schema)
        out[pf.name] = (
            _partition_value_to_typed(pf, typed[0], v) if typed and v is not None
            else (None if v is None else str(v))
        )
    return out


def _partition_from_record(spec_fields: list, schema: Schema, rec: dict,
                           writer_types: dict | None = None) -> dict:
    """``writer_types`` maps partition field name → the non-null Avro branch
    the WRITER declared. A writer may encode a value as [null, string]
    where the spec form is typed; converting that string through the typed
    path would corrupt it (e.g. year "2024" → "3994"), so the raw string
    passes through when the writer schema says string but the typed form
    is not."""
    from .metadata import PartitionField

    out = {}
    for fj in spec_fields:
        pf = PartitionField(fj["source-id"], fj["field-id"], fj["transform"], fj["name"])
        v = rec.get(pf.name)
        typed = _typed_partition_type(pf, schema)
        as_string = (
            typed is not None
            and writer_types is not None
            and writer_types.get(pf.name) == "string"
            and typed[1] != "string"
        )
        out[pf.name] = (
            _typed_to_partition_value(pf, typed[0], v)
            if typed and v is not None and not as_string else v
        )
    return out


def manifest_entry_schema(spec: PartitionSpec, schema: Schema | None = None) -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _req(134, "content", "int"),
            _req(100, "file_path", "string"),
            _req(101, "file_format", "string"),
            _req(102, "partition", partition_record_schema(spec, schema)),
            _req(103, "record_count", "long"),
            _req(104, "file_size_in_bytes", "long"),
            _opt(109, "value_counts", _kv_array("value_counts", 119, 120, "long")),
            _opt(110, "null_value_counts", _kv_array("null_value_counts", 121, 122, "long")),
            _opt(137, "nan_value_counts", _kv_array("nan_value_counts", 138, 139, "long")),
            _opt(125, "lower_bounds", _kv_array("lower_bounds", 126, 127, "bytes")),
            _opt(128, "upper_bounds", _kv_array("upper_bounds", 129, 130, "bytes")),
            _opt(132, "split_offsets", {"type": "array", "items": "long", "element-id": 133}),
            _opt(135, "equality_ids", {"type": "array", "items": "int", "element-id": 136}),
            _opt(140, "sort_order_id", "int"),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _req(0, "status", "int"),
            _opt(1, "snapshot_id", "long"),
            _opt(3, "sequence_number", "long"),
            _opt(4, "file_sequence_number", "long"),
            _req(2, "data_file", data_file),
        ],
    }


STATUS_EXISTING = 0
STATUS_ADDED = 1


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def _kv_list(d: dict[int, Any]) -> list[dict]:
    return [{"key": k, "value": v} for k, v in sorted(d.items()) if v is not None]


def _field_type(schema: Schema, fid: int) -> IcebergType | None:
    """Type of a stats field id: the table schema, else the Iceberg RESERVED
    position-delete columns (spec: 2147483546 = file_path string,
    2147483545 = pos long) — delete files carry bounds on those, and
    dropping them would make the Avro tree a lossy view of the parquet one."""
    f = schema.find_field_by_id(fid)
    if f is not None:
        return f.type
    from ..schema import LONG, STRING

    return {2147483546: STRING, 2147483545: LONG}.get(fid)


def _entry_record(e: DataFileEntry, schema: Schema, spec: PartitionSpec, snapshot_id: int) -> dict:
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    nan_counts: dict[int, int] = {}
    lowers: dict[int, bytes] = {}
    uppers: dict[int, bytes] = {}
    for fid, s in e.column_stats.items():
        t = _field_type(schema, fid)
        if t is None:
            continue
        if s.get("value_count") is not None:
            value_counts[fid] = int(s["value_count"])
        if s.get("null_count") is not None:
            null_counts[fid] = int(s["null_count"])
        if s.get("nan_count") is not None:
            nan_counts[fid] = int(s["nan_count"])
        lo = bound_to_bytes(t, s.get("min"))
        hi = bound_to_bytes(t, s.get("max"))
        if lo is not None:
            lowers[fid] = lo
        if hi is not None:
            uppers[fid] = hi
    partition = _partition_record(spec, schema, e.partition)
    return {
        "status": STATUS_ADDED,  # caller downgrades re-listed entries to EXISTING
        "snapshot_id": snapshot_id,
        "sequence_number": e.sequence_number,
        "file_sequence_number": e.sequence_number,
        "data_file": {
            "content": e.content,
            "file_path": e.file_path,
            "file_format": e.file_format.upper(),
            "partition": partition,
            "record_count": e.record_count,
            "file_size_in_bytes": e.file_size,
            "value_counts": _kv_list(value_counts) or None,
            "null_value_counts": _kv_list(null_counts) or None,
            "nan_value_counts": _kv_list(nan_counts) or None,
            "lower_bounds": _kv_list(lowers) or None,
            "upper_bounds": _kv_list(uppers) or None,
            "split_offsets": None,
            "equality_ids": list(e.equality_ids) or None,
            "sort_order_id": None,
        },
    }


def _write_member(
    location: str,
    rel_path: str,
    group: list[tuple[DataFileEntry, int]],
    *,
    content: int,
    schema: Schema,
    schema_id: int,
    spec: PartitionSpec,
    snapshot_id: int,
    sequence_number: int,
    io: FileIO = LOCAL_IO,
) -> dict:
    """Write ONE member manifest OCF (entries paired with their wire status)
    and return its ``manifest_file`` record for the manifest list."""
    entry_schema = manifest_entry_schema(spec, schema)
    records = []
    for e, status in group:
        r = _entry_record(e, schema, spec, snapshot_id)
        r["status"] = status
        records.append(r)
    path = os.path.join(location, rel_path)
    write_ocf(
        path,
        entry_schema,
        records,
        metadata={
            "schema": json.dumps(schema_to_json(schema)),
            "schema-id": str(schema_id),
            "partition-spec": json.dumps(spec.to_json()["fields"]),
            "partition-spec-id": str(spec.spec_id),
            "format-version": "2",
            "content": "data" if content == CONTENT_DATA else "deletes",
        },
        io=io,
    )
    added = [e for e, s in group if s == STATUS_ADDED]
    existing = [e for e, s in group if s == STATUS_EXISTING]
    return {
        "manifest_path": rel_path,
        "manifest_length": io.size(path),
        "partition_spec_id": spec.spec_id,
        "content": 0 if content == CONTENT_DATA else 1,
        "sequence_number": sequence_number,
        "min_sequence_number": min(e.sequence_number for e, _ in group),
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(added),
        "existing_files_count": len(existing),
        "deleted_files_count": 0,
        "added_rows_count": sum(e.record_count for e in added),
        "existing_rows_count": sum(e.record_count for e in existing),
        "deleted_rows_count": 0,
        "partitions": _partition_summaries(spec, [e for e, _ in group], schema),
        "key_metadata": None,
    }


def _grouped(entries: list[DataFileEntry]) -> list[tuple[tuple[int, int, int], list[DataFileEntry]]]:
    """Group by (content, schema_id, spec_id): an Iceberg manifest carries
    exactly ONE schema and ONE partition spec, and collapsing spec
    generations into the default spec would relabel old entries with null
    tuples under the NEW spec's fields — an external reader pruning by
    partition tuple would wrongly drop those files."""
    groups: dict[tuple[int, int, int], list[DataFileEntry]] = {}
    for e in entries:
        groups.setdefault((e.content, e.schema_id, e.spec_id), []).append(e)
    return sorted(groups.items())


def _write_list(location: str, rel_dir: str, manifest_files: list[dict],
                snapshot_id: int, sequence_number: int, io: FileIO = LOCAL_IO) -> str:
    list_rel = os.path.join(rel_dir, f"snap-{snapshot_id}.avro")
    write_ocf(
        os.path.join(location, list_rel),
        MANIFEST_LIST_SCHEMA,
        manifest_files,
        metadata={
            "snapshot-id": str(snapshot_id),
            "sequence-number": str(sequence_number),
            "format-version": "2",
        },
        io=io,
    )
    return list_rel


def write_avro_manifests(
    location: str,
    rel_dir: str,
    entries: list[DataFileEntry],
    *,
    snapshot_id: int,
    sequence_number: int,
    spec: PartitionSpec,
    schemas_by_id: dict[int, Schema],
    specs_by_id: dict[int, PartitionSpec] | None = None,
    io: FileIO = LOCAL_IO,
) -> str:
    """Write Iceberg-layout Avro manifests + manifest list for a snapshot's
    full entry listing; returns the manifest-LIST path relative to location.

    One manifest per (content, schema-id, spec-id) group — each member is
    written under ITS generation's partition spec (``specs_by_id``; the
    default ``spec`` covers ids not present there), so partition-evolved
    tables keep correct typed tuples for every generation; entries whose
    sequence number equals the snapshot's are ADDED, earlier ones EXISTING —
    the statuses external readers expect from a full re-listing."""
    manifest_files: list[dict] = []
    for gi, ((content, schema_id, spec_id), group) in enumerate(_grouped(entries)):
        schema = schemas_by_id.get(schema_id)
        if schema is None:
            raise ValidationError(f"manifest group schema {schema_id} unknown")
        gspec = (specs_by_id or {}).get(spec_id, spec)
        paired = [
            (e, STATUS_ADDED if e.sequence_number == sequence_number else STATUS_EXISTING)
            for e in group
        ]
        manifest_files.append(
            _write_member(
                location, os.path.join(rel_dir, f"m{gi}-snap-{snapshot_id}.avro"),
                paired, content=content, schema=schema, schema_id=schema_id,
                spec=gspec, snapshot_id=snapshot_id, sequence_number=sequence_number,
                io=io,
            )
        )
    return _write_list(location, rel_dir, manifest_files, snapshot_id, sequence_number, io=io)


# member-list length past which the incremental tree compacts into one
# manifest per (content, schema) group — mirrors table.py's parquet
# MANIFEST_COMPACT_THRESHOLD so neither dialect's list grows unboundedly
AVRO_COMPACT_THRESHOLD = 32


def write_avro_manifest_tree(
    location: str,
    rel_dir: str,
    entries: list[DataFileEntry],
    *,
    snapshot_id: int,
    sequence_number: int,
    spec: PartitionSpec,
    schemas_by_id: dict[int, Schema],
    specs_by_id: dict[int, PartitionSpec] | None = None,
    parent_list_rel: str | None = None,
    io: FileIO = LOCAL_IO,
) -> str:
    """INCREMENTAL Iceberg Avro tree: parent member manifests whose entries
    all survive are REUSED verbatim (their ``manifest_file`` record — counts,
    added_snapshot_id, partition summaries — carried into the new list
    unchanged, exactly how Iceberg itself reuses immutable manifests across
    snapshots); partially-surviving members are rewritten filtered with
    EXISTING statuses; new files land in one ADDED manifest per
    (content, schema-id, spec-id) — each member written under its own
    generation's partition spec (``specs_by_id``). Metadata write cost is O(changed + added) per
    commit, matching the parquet tree (table.py ``_write_manifest_tree``),
    which is what makes the dual-manifest default affordable at scale.
    Past ``AVRO_COMPACT_THRESHOLD`` members the tree compacts fully."""
    cur_by_path = {e.file_path: e for e in entries}
    manifest_files: list[dict] = []
    covered: set[str] = set()
    part = 0
    plist = os.path.join(location, parent_list_rel) if parent_list_rel else None
    parent_mfs: list[dict] = []
    if plist is not None and io.exists(plist):
        _, _, parent_mfs = read_ocf(plist, io=io)
    if len(parent_mfs) >= AVRO_COMPACT_THRESHOLD:
        # compact BEFORE writing members so the full-rewrite path never
        # collides with (or orphans) incremental member files of this snapshot
        return write_avro_manifests(
            location, rel_dir, entries, snapshot_id=snapshot_id,
            sequence_number=sequence_number, spec=spec, schemas_by_id=schemas_by_id,
            specs_by_id=specs_by_id, io=io,
        )
    if parent_mfs:
        for mf in parent_mfs:
            ments = _read_one_manifest(location, mf["manifest_path"], io=io,
                                       inherit_seq=mf.get("sequence_number"))
            surv = [e for e in ments if e.file_path in cur_by_path]
            if not surv:
                continue
            if len(surv) == len(ments):
                manifest_files.append(mf)  # reuse verbatim, zero I/O
            else:
                for (content, schema_id, spec_id), group in _grouped(surv):
                    schema = schemas_by_id.get(schema_id)
                    if schema is None:
                        raise ValidationError(f"manifest group schema {schema_id} unknown")
                    manifest_files.append(
                        _write_member(
                            location,
                            os.path.join(rel_dir, f"m{part}-snap-{snapshot_id}.avro"),
                            [(e, STATUS_EXISTING) for e in group],
                            content=content, schema=schema, schema_id=schema_id,
                            spec=(specs_by_id or {}).get(spec_id, spec),
                            snapshot_id=snapshot_id,
                            sequence_number=sequence_number, io=io,
                        )
                    )
                    part += 1
            covered.update(e.file_path for e in surv)
    added = [e for e in entries if e.file_path not in covered]
    for (content, schema_id, spec_id), group in _grouped(added):
        schema = schemas_by_id.get(schema_id)
        if schema is None:
            raise ValidationError(f"manifest group schema {schema_id} unknown")
        manifest_files.append(
            _write_member(
                location, os.path.join(rel_dir, f"m{part}-snap-{snapshot_id}.avro"),
                [(e, STATUS_ADDED) for e in group],
                content=content, schema=schema, schema_id=schema_id,
                spec=(specs_by_id or {}).get(spec_id, spec),
                snapshot_id=snapshot_id, sequence_number=sequence_number,
                io=io,
            )
        )
        part += 1

    return _write_list(location, rel_dir, manifest_files, snapshot_id, sequence_number, io=io)


def member_manifest_paths(location: str, list_rel_path: str, io: FileIO = LOCAL_IO) -> list[str]:
    """Relative paths of the manifests a manifest list references (used by
    snapshot expiry to clean whole avro trees)."""
    _, _, manifest_files = read_ocf(os.path.join(location, list_rel_path), io=io)
    return [mf["manifest_path"] for mf in manifest_files]


def _partition_summaries(
    spec: PartitionSpec, group: list[DataFileEntry], schema: Schema | None = None
) -> list[dict] | None:
    """Per-partition-field summaries (reference: spec/manifest.go:200-205).
    Typed fields get spec single-value bounds of the transform RESULT type
    (ordered in the typed domain); string-fallback fields keep UTF-8 bytes
    of the engine's string encoding."""
    if not spec.fields:
        return None
    out = []
    for pf in spec.fields:
        vals = [e.partition.get(pf.name) for e in group]
        typed = _typed_partition_type(pf, schema) if schema is not None else None
        contains_nan = None
        if typed is not None:
            sv = [_partition_stat_value(pf, typed[0], v)
                  for v in vals if v is not None]
            is_float = (isinstance(typed[0], PrimitiveType)
                        and typed[0].name in ("float", "double"))
            if is_float:
                # NaN is unordered — it must never become a bound (the spec
                # delegates NaN presence to contains_nan)
                contains_nan = any(x != x for x in sv)
                sv = [x for x in sv if x == x]
            sv = sorted(
                sv,
                key=lambda x: decimal.Decimal(x) if isinstance(typed[0], DecimalType) else x,
            )
            lo = bound_to_bytes(typed[0], sv[0]) if sv else None
            hi = bound_to_bytes(typed[0], sv[-1]) if sv else None
        else:
            non_null = sorted(str(v) for v in vals if v is not None)
            lo = non_null[0].encode() if non_null else None
            hi = non_null[-1].encode() if non_null else None
        out.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": contains_nan,
                "lower_bound": lo,
                "upper_bound": hi,
            }
        )
    return out


def _partition_stat_value(pf, t, v):
    """Engine path-derived string → the stat-space value ``bound_to_bytes``
    expects for the transform's RESULT type (int ordinals for
    year/month/hour, day ordinal for day, micros for timestamps, string
    decimal for decimals, canonical string for uuid) — also sortable in
    value order (decimals sort via Decimal at the call site)."""
    import datetime as dt

    s = str(v)
    if pf.transform in ("year", "month", "day", "hour"):
        return _partition_value_to_typed(pf, t, s)  # int / day ordinals
    if isinstance(t, DecimalType):
        return s
    from ..schema import FixedType

    if isinstance(t, FixedType):
        return s  # hex: byte-order-preserving, bound_to_bytes decodes it
    n = t.name
    if n == "boolean":
        return s.lower() == "true"
    if n in ("int", "long", "time"):
        return int(s)
    if n in ("float", "double"):
        return float(s)
    if n in ("timestamp", "timestamptz"):
        return _ts_string_to_micros(s)
    if n == "date":
        return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days
    return s  # string, uuid, binary-hex (canonical forms)


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def read_avro_manifest_tree(location: str, list_rel_path: str,
                            io: FileIO = LOCAL_IO) -> list[DataFileEntry]:
    """Manifest list → manifests → DataFileEntry list (the inverse of
    ``write_avro_manifests``; reference: spec/avro.go:178-244 + :435-534).
    The manifest-list sequence number is passed down for the spec's
    INHERITANCE rule: an ADDED entry whose ``sequence_number`` is null on
    the wire inherits the manifest's — the encoding Java Iceberg writers
    produce for fresh entries, which the engine must read correctly even
    though its own writer always stamps explicit numbers."""
    _, _, manifest_files = read_ocf(os.path.join(location, list_rel_path), io=io)
    entries: list[DataFileEntry] = []
    for mf in manifest_files:
        entries.extend(_read_one_manifest(location, mf["manifest_path"], io=io,
                                          inherit_seq=mf.get("sequence_number")))
    return entries


def _writer_partition_types(ocf_schema) -> dict:
    """Partition field name → the writer's declared non-null Avro branch
    ([null, string] members are detected from this)."""
    try:
        dfs = next(f for f in ocf_schema["fields"] if f["name"] == "data_file")["type"]
        prec = next(f for f in dfs["fields"] if f["name"] == "partition")["type"]
        out = {}
        for f in prec["fields"]:
            t = f["type"]
            branches = t if isinstance(t, list) else [t]
            nn = [b for b in branches if b != "null"]
            out[f["name"]] = nn[0] if nn else "null"
        return out
    except (StopIteration, KeyError, TypeError):
        return {}


def _read_one_manifest(location: str, rel_path: str, io: FileIO = LOCAL_IO,
                       inherit_seq: int | None = None) -> list[DataFileEntry]:
    ocf_schema, meta, records = read_ocf(os.path.join(location, rel_path), io=io)
    writer_types = _writer_partition_types(ocf_schema)
    schema = schema_from_json(json.loads(meta["schema"].decode()))
    schema_id = int(meta["schema-id"].decode())
    spec_id = int(meta["partition-spec-id"].decode())
    spec_fields = json.loads(meta["partition-spec"].decode()) if "partition-spec" in meta else []
    out: list[DataFileEntry] = []
    for r in records:
        df = r["data_file"]
        stats: dict[int, dict[str, Any]] = {}
        for kv in df.get("value_counts") or []:
            stats.setdefault(kv["key"], _empty_stat())["value_count"] = kv["value"]
        for kv in df.get("null_value_counts") or []:
            stats.setdefault(kv["key"], _empty_stat())["null_count"] = kv["value"]
        for kv in df.get("nan_value_counts") or []:
            stats.setdefault(kv["key"], _empty_stat())["nan_count"] = kv["value"]
        for kv in df.get("lower_bounds") or []:
            t = _field_type(schema, kv["key"])
            if t is not None:
                stats.setdefault(kv["key"], _empty_stat())["min"] = bound_from_bytes(t, kv["value"])
        for kv in df.get("upper_bounds") or []:
            t = _field_type(schema, kv["key"])
            if t is not None:
                stats.setdefault(kv["key"], _empty_stat())["max"] = bound_from_bytes(t, kv["value"])
        out.append(
            DataFileEntry(
                content=df["content"],
                file_path=df["file_path"],
                file_format=df["file_format"].lower(),
                spec_id=spec_id,
                schema_id=schema_id,
                record_count=df["record_count"],
                file_size=df["file_size_in_bytes"],
                partition=_partition_from_record(spec_fields, schema, df.get("partition") or {},
                                                 writer_types=writer_types),
                column_stats=stats,
                # spec inheritance: null seq on an ADDED entry = the
                # manifest's sequence number (v2 writers may omit it)
                sequence_number=(
                    r["sequence_number"] if r.get("sequence_number") is not None
                    else (inherit_seq if r.get("status") == STATUS_ADDED and inherit_seq is not None
                          else 0)
                ),
                equality_ids=tuple(df.get("equality_ids") or ()),
            )
        )
    return out


def _empty_stat() -> dict[str, Any]:
    return {"min": None, "max": None, "null_count": 0, "value_count": 0}

"""Pure-Python Apache Avro binary encoding + Object Container Files (OCF).

Implements the subset of the public Avro 1.11 specification the Iceberg
manifest format needs — primitives, records, arrays, maps, [null, X] unions,
fixed, enums — plus the OCF framing (magic, header metadata map, sync-marked
deflate/null blocks). No Avro library exists in this environment, so this
module IS the serde; files it writes are validated in tests against the real
Apache Avro Java implementation on Spark's classpath
(tests/test_avro.py::test_java_avro_reads_our_files).

Reference parity: this supplies the OCF machinery behind the reference's
manifest serde (reference: spec/avro.go:91-534 uses goavro the same way);
the Iceberg-specific schemas live in table/manifest_avro.py.

Schemas are plain parsed-JSON values (dict | list | str), as in the spec.
"""

from __future__ import annotations

import io
import json
import secrets
import struct
import zlib
from typing import Any

from .io.fileio import LOCAL_IO, FileIO

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


class BinaryEncoder:
    def __init__(self) -> None:
        self._b = io.BytesIO()

    def getvalue(self) -> bytes:
        return self._b.getvalue()

    def write_null(self, _v: Any = None) -> None:
        pass

    def write_boolean(self, v: bool) -> None:
        self._b.write(b"\x01" if v else b"\x00")

    def write_long(self, v: int) -> None:
        n = _zigzag(int(v)) & ((1 << 64) - 1)
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                self._b.write(bytes([b | 0x80]))
            else:
                self._b.write(bytes([b]))
                break

    write_int = write_long  # same varint encoding

    def write_float(self, v: float) -> None:
        self._b.write(struct.pack("<f", v))

    def write_double(self, v: float) -> None:
        self._b.write(struct.pack("<d", v))

    def write_bytes(self, v: bytes) -> None:
        self.write_long(len(v))
        self._b.write(v)

    def write_string(self, v: str) -> None:
        self.write_bytes(v.encode("utf-8"))

    def write_fixed(self, v: bytes) -> None:
        self._b.write(v)


class BinaryDecoder:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._d = data
        self.pos = pos

    def eof(self) -> bool:
        return self.pos >= len(self._d)

    def read_null(self) -> None:
        return None

    def read_boolean(self) -> bool:
        v = self._d[self.pos] != 0
        self.pos += 1
        return v

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self._d[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return _unzigzag(acc)

    read_int = read_long

    def read_float(self) -> float:
        v = struct.unpack_from("<f", self._d, self.pos)[0]
        self.pos += 4
        return v

    def read_double(self) -> float:
        v = struct.unpack_from("<d", self._d, self.pos)[0]
        self.pos += 8
        return v

    def read_bytes(self) -> bytes:
        n = self.read_long()
        v = self._d[self.pos : self.pos + n]
        self.pos += n
        return bytes(v)

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")

    def read_fixed(self, n: int) -> bytes:
        v = self._d[self.pos : self.pos + n]
        self.pos += n
        return bytes(v)


# ---------------------------------------------------------------------------
# datum <-> schema (recursive)
# ---------------------------------------------------------------------------


def _schema_type(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def write_datum(enc: BinaryEncoder, schema: Any, datum: Any) -> None:
    t = _schema_type(schema)
    if t == "union":
        # our schemas only use [null, X] / [X, null]; pick branch by null-ness
        for idx, branch in enumerate(schema):
            if (datum is None) == (_schema_type(branch) == "null"):
                enc.write_long(idx)
                write_datum(enc, branch, datum)
                return
        raise ValueError(f"no union branch for {datum!r} in {schema!r}")
    if t == "null":
        enc.write_null()
    elif t == "boolean":
        enc.write_boolean(datum)
    elif t in ("int", "long"):
        enc.write_long(datum)
    elif t == "float":
        enc.write_float(datum)
    elif t == "double":
        enc.write_double(datum)
    elif t == "bytes":
        enc.write_bytes(datum)
    elif t == "string":
        enc.write_string(datum)
    elif t == "fixed":
        if len(datum) != schema["size"]:
            raise ValueError(f"fixed size mismatch: {len(datum)} != {schema['size']}")
        enc.write_fixed(datum)
    elif t == "enum":
        enc.write_long(schema["symbols"].index(datum))
    elif t == "record":
        for f in schema["fields"]:
            write_datum(enc, f["type"], datum.get(f["name"]))
    elif t == "array":
        if datum:
            enc.write_long(len(datum))
            for item in datum:
                write_datum(enc, schema["items"], item)
        enc.write_long(0)
    elif t == "map":
        if datum:
            enc.write_long(len(datum))
            for k, v in datum.items():
                enc.write_string(k)
                write_datum(enc, schema["values"], v)
        enc.write_long(0)
    else:
        raise ValueError(f"unsupported avro type {t!r}")


def read_datum(dec: BinaryDecoder, schema: Any) -> Any:
    t = _schema_type(schema)
    if t == "union":
        return read_datum(dec, schema[dec.read_long()])
    if t == "null":
        return None
    if t == "boolean":
        return dec.read_boolean()
    if t in ("int", "long"):
        return dec.read_long()
    if t == "float":
        return dec.read_float()
    if t == "double":
        return dec.read_double()
    if t == "bytes":
        return dec.read_bytes()
    if t == "string":
        return dec.read_string()
    if t == "fixed":
        return dec.read_fixed(schema["size"])
    if t == "enum":
        return schema["symbols"][dec.read_long()]
    if t == "record":
        return {f["name"]: read_datum(dec, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                n = -n
                dec.read_long()
            for _ in range(n):
                out.append(read_datum(dec, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                k = dec.read_string()
                out[k] = read_datum(dec, schema["values"])
        return out
    raise ValueError(f"unsupported avro type {t!r}")


# ---------------------------------------------------------------------------
# Object Container Files
# ---------------------------------------------------------------------------

_META_SCHEMA = {"type": "map", "values": "bytes"}


def write_ocf(
    path: str,
    schema: Any,
    records: list[dict],
    *,
    metadata: dict[str, bytes] | None = None,
    codec: str = "deflate",
    io: FileIO = LOCAL_IO,
) -> None:
    """Write records as one OCF block (manifests are single-block files)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    sync = secrets.token_bytes(16)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    for k, v in (metadata or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode()

    body = BinaryEncoder()
    for r in records:
        write_datum(body, schema, r)
    payload = body.getvalue()
    if codec == "deflate":
        payload = zlib.compress(payload)[2:-1]  # raw deflate: strip zlib header+checksum

    head = BinaryEncoder()
    head.write_fixed(MAGIC)
    write_datum(head, _META_SCHEMA, meta)
    head.write_fixed(sync)
    if records:
        head.write_long(len(records))
        head.write_long(len(payload))
        head.write_fixed(payload)
        head.write_fixed(sync)
    io.create(path, head.getvalue(), overwrite=True)


def read_ocf(path: str, io: FileIO = LOCAL_IO) -> tuple[Any, dict[str, bytes], list[dict]]:
    """Read an OCF file → (writer schema, metadata, records)."""
    dec = BinaryDecoder(io.read(path))
    if dec.read_fixed(4) != MAGIC:
        raise ValueError(f"not an Avro OCF: {path}")
    meta = read_datum(dec, _META_SCHEMA)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = dec.read_fixed(16)
    records: list[dict] = []
    while not dec.eof():
        n = dec.read_long()
        size = dec.read_long()
        block = dec.read_fixed(size)
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bd = BinaryDecoder(block)
        for _ in range(n):
            records.append(read_datum(bd, schema))
        if dec.read_fixed(16) != sync:
            raise ValueError(f"sync marker mismatch in {path}")
    return schema, meta, records

"""Write path: partitioned parquet data files + footer statistics.

Replaces the reference's single-file writer with approximate stats
(reference: table/writer.go:48-170 — one file per write, sizes=filesize/ncols,
empty bounds; partitioned writer stubbed at table/writer.go:218-253) with a
Spark-native design:

- the DataFrame is written by Spark executors, partitioned by the table's
  partition-spec transforms (hidden partitioning: derived ``_p_*`` columns
  drive the directory layout; source columns stay in the data files);
- REAL per-column min/max/null-count stats are then read from the new
  files' parquet footers (``_harvest_stats``). The driver reads them itself
  up to ``HARVEST_DRIVER_MAX_FILES`` files (2,000), or up to
  ``HARVEST_DRIVER_MAX_VALUE_BYTES`` written bytes (256 KB) when a bloom,
  NaN-count or exact-bounds column reads values, so a small write is one
  Spark job; larger outputs are read by one Spark job over the file list on
  the executors. Both tiers run the same function over the same paths, so
  they give the same stats in the same order;
- file sizing honors the table's target file size by repartitioning on the
  partition key (reference default 128 MB, table/insert.go:51).

``write_data_files`` reads every write setting from the table itself, so all
data writers (append, overwrite, branch appends, transactions, bulk writers,
row-level mutations, compaction) lay out files the same way. The table
properties it honours, for data files only:

- ``write.target-file-size-bytes``: target file size (default 128 MB);
- ``write.distribution-mode``: ``none`` (default) or ``range`` (range-shuffle
  on the sort key, within each partition, so per-file bounds are disjoint);
- ``write.bloom-columns``: integer/string columns that get a per-file bloom
  filter in their stats;
- ``write.nan-count-columns``: float/double columns whose per-file NaN
  counts are collected;
- ``write.exact-bounds-columns``: string/binary columns whose bounds are
  computed from the values and marked exact;
- ``write.bucket-function``: the bucket hash, ``spark`` (default) or
  ``iceberg`` (``resolve_bucket_fn``).

Delete files keep the plain layout: no sort, no distribution, default size,
footer stats only. ``write.data.path`` (an alternate root for the data and
delete trees, ``data_path``) applies to both.

Stats are encoded order-preservingly per Iceberg type (timestamps→µs,
dates→days, decimals→unscaled ints) and keyed by FIELD ID so renames keep
pruning valid (reference: spec/manifest.go:121-136).
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import re
import shutil
import uuid as uuid_mod
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import ValidationError
from ..schema import (
    DATE,
    TIMESTAMP,
    DecimalType,
    IcebergType,
    PrimitiveType,
    Schema,
)
from .metadata import (
    CONTENT_DATA,
    UNPARTITIONED,
    DataFileEntry,
    PartitionSpec,
)

_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNCATE_RE = re.compile(r"^truncate\[(\d+)\]$")

PARTITION_COL_PREFIX = "_p_"

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024  # reference: table/insert.go:51


_M32 = 0xFFFFFFFF


def _mm3_mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * 0x1B873593) & _M32


def _mm3_mix_h1(h1: int, k1: int) -> int:
    h1 = (h1 ^ k1) & _M32
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    return (h1 * 5 + 0xE6546B64) & _M32


def _mm3_fmix(h1: int, n: int) -> int:
    h1 = (h1 ^ n) & _M32
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def _mm3_signed(v: int) -> int:
    return v - (1 << 32) if v >= (1 << 31) else v


def spark_murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's ``F.hash`` for a LongType value (low word mixed, then high),
    driver-side; verified bit-equal against Catalyst. Lets the planner
    transform an equality literal into its bucket without running a Spark
    job. Int bucket sources also hash through THIS function (cast to long
    on the write path) so ordinals are width-invariant."""
    h1 = _mm3_mix_h1(seed, _mm3_mix_k1(value & _M32))
    h1 = _mm3_mix_h1(h1, _mm3_mix_k1((value >> 32) & _M32))
    return _mm3_signed(_mm3_fmix(h1, 8))


def resolve_bucket_fn(properties: dict) -> str:
    """Table properties → the bucket-hash mode every write/prune site must
    agree on: "spark" (default: ``F.hash``, int sources cast to long so
    ordinals survive int→long widening) or "iceberg" (spec Appendix B)."""
    return properties.get("write.bucket-function", "spark")


# ---------------------------------------------------------------------------
# Iceberg-spec bucket hash (spec Appendix B: murmur3_x86_32, seed 0, over the
# value's little-endian bytes; int/date widen to long, string hashes UTF-8).
# Opt-in via table property ``write.bucket-function=iceberg`` — makes bucket
# ordinals recomputable by third-party Iceberg readers (the engine default
# stays Spark's F.hash, seed 42, which is opaque to external readers).
# ---------------------------------------------------------------------------


def iceberg_murmur3_long(value: int) -> int:
    """Iceberg hash of an int/long/date/time/timestamp value (driver-side).
    Spec known answer: bucket hash of long 34 == 2017239379."""
    v = value & ((1 << 64) - 1)
    h1 = _mm3_mix_h1(0, _mm3_mix_k1(v & _M32))
    h1 = _mm3_mix_h1(h1, _mm3_mix_k1((v >> 32) & _M32))
    return _mm3_signed(_mm3_fmix(h1, 8))


def iceberg_murmur3_bytes(data: bytes) -> int:
    """Iceberg hash of a string (UTF-8) / binary value (driver-side).
    Spec known answer: hash of b"iceberg" == 1210000089."""
    h1 = 0
    n = len(data)
    for i in range(0, n - n % 4, 4):
        h1 = _mm3_mix_h1(h1, _mm3_mix_k1(int.from_bytes(data[i:i + 4], "little")))
    tail = data[n - n % 4:]
    if tail:
        k1 = int.from_bytes(tail, "little")
        h1 = (h1 ^ _mm3_mix_k1(k1)) & _M32
    return _mm3_signed(_mm3_fmix(h1, n))


_M32_LIT = 0xFFFFFFFF
_INT_MAX = 0x7FFFFFFF


def _mul32_col(col: Column, const: int) -> Column:
    """(col * const) mod 2^32 without signed-long overflow (ANSI-safe):
    split col into 16-bit halves so every intermediate stays under 2^48."""
    hi = F.shiftrightunsigned(col, 16) * F.lit(const)
    lo = col.bitwiseAND(F.lit(0xFFFF)) * F.lit(const)
    return (F.shiftleft(hi.bitwiseAND(F.lit(0xFFFF)), 16) + lo).bitwiseAND(F.lit(_M32_LIT))


def _rotl32_col(col: Column, r: int) -> Column:
    return (
        F.shiftleft(col, r).bitwiseAND(F.lit(_M32_LIT))
        .bitwiseOR(F.shiftrightunsigned(col, 32 - r))
    )


def _mm3_mix_k1_col(k1: Column) -> Column:
    k1 = _mul32_col(k1, 0xCC9E2D51)
    k1 = _rotl32_col(k1, 15)
    return _mul32_col(k1, 0x1B873593)


def _mm3_mix_h1_col(h1: Column, k1: Column) -> Column:
    h1 = h1.bitwiseXOR(_mm3_mix_k1_col(k1))
    h1 = _rotl32_col(h1, 13)
    return (h1 * F.lit(5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_M32_LIT))


def _mm3_fmix_col(h1: Column, n: int) -> Column:
    h1 = h1.bitwiseXOR(F.lit(n))
    h1 = h1.bitwiseXOR(F.shiftrightunsigned(h1, 16))
    h1 = _mul32_col(h1, 0x85EBCA6B)
    h1 = h1.bitwiseXOR(F.shiftrightunsigned(h1, 13))
    h1 = _mul32_col(h1, 0xC2B2AE35)
    return h1.bitwiseXOR(F.shiftrightunsigned(h1, 16))


def iceberg_bucket_column(source: Column, n: int, source_type: IcebergType) -> Column:
    """Iceberg-spec ``bucket[n]`` as a codegen'd Catalyst expression for
    int/long/date/timestamp sources (pure bitwise arithmetic, JVM-side,
    verified bit-equal against the spec's known answers and the driver
    mirror); string sources fall back to an Arrow-batched pandas UDF (the
    byte-wise murmur3 loop has no fixed-width expression form)."""
    if isinstance(source_type, PrimitiveType) and source_type.name in (
        "int", "long", "date", "time", "timestamp", "timestamptz",
    ):
        if source_type.name == "date":
            v = F.unix_date(source).cast("long")
        elif source_type.name in ("timestamp", "timestamptz"):
            v = F.unix_micros(source)
        else:
            v = source.cast("long")
        low = v.bitwiseAND(F.lit(_M32_LIT))
        high = F.shiftrightunsigned(v, 32)
        h1 = _mm3_mix_h1_col(_mm3_mix_h1_col(F.lit(0).cast("long"), low), high)
        h1 = _mm3_fmix_col(h1, 8)
        return F.pmod(h1.bitwiseAND(F.lit(_INT_MAX)), F.lit(n)).cast("int")
    if isinstance(source_type, PrimitiveType) and source_type.name in ("string", "uuid"):
        import uuid as _uuid

        import pandas as pd  # noqa: F401  (signature requirement)
        from pyspark.sql.functions import pandas_udf

        if source_type.name == "uuid":
            # spec Appendix B: hashBytes(uuidBytes(v)) — the 16-byte
            # big-endian form, NOT the canonical string's UTF-8 (which
            # gives a different ordinal an external reader would never
            # recompute: "f79c3e09-..." hashes 980414783 as text but
            # 1488055340 as uuid bytes)
            @pandas_udf("int")
            def _bucket(s):
                return s.map(
                    lambda x: None if x is None
                    else (iceberg_murmur3_bytes(_uuid.UUID(str(x)).bytes) & _INT_MAX) % n
                )
        else:
            @pandas_udf("int")
            def _bucket(s):
                return s.map(
                    lambda x: None if x is None
                    else (iceberg_murmur3_bytes(str(x).encode("utf-8")) & _INT_MAX) % n
                )

        return _bucket(source)
    raise ValidationError(
        f"iceberg bucket function unsupported for source type {source_type}"
    )


def bucket_for_literal(v: Any, n: int, source_type: IcebergType,
                       bucket_fn: str = "spark") -> int | None:
    """The bucket a literal lands in, or None when the type isn't
    driver-hashable (pruning then falls back to keep-the-file)."""
    if not isinstance(source_type, PrimitiveType):
        return None
    if bucket_fn == "iceberg":
        if isinstance(v, bool):
            return None
        if source_type.name in ("int", "long") and isinstance(v, int):
            return (iceberg_murmur3_long(v) & _INT_MAX) % n
        if source_type.name == "uuid" and isinstance(v, str):
            # spec: hash the 16-byte big-endian uuid, not its string form
            try:
                ub = uuid_mod.UUID(v).bytes
            except ValueError:
                return None
            return (iceberg_murmur3_bytes(ub) & _INT_MAX) % n
        if source_type.name == "string" and isinstance(v, str):
            return (iceberg_murmur3_bytes(v.encode("utf-8")) & _INT_MAX) % n
        return None
    if not isinstance(v, int) or isinstance(v, bool):
        return None
    if source_type.name in ("int", "long"):
        # int hashes as long — width-invariant, see transform_column
        return spark_murmur3_long(v) % n
    return None


def transform_column(transform: str, source: Column, source_type: IcebergType,
                     bucket_fn: str = "spark") -> Column:
    """Partition transform → Spark expression (reference: spec/partition.go:11-19).

    identity/year/month/day/hour/bucket[N]/truncate[W]/void. Bucket uses
    Spark's murmur-based ``hash`` with ``pmod`` by default — stable within
    this engine but opaque to external readers; ``bucket_fn="iceberg"``
    (table property ``write.bucket-function=iceberg``) switches to the
    Iceberg-spec bucket hash so third parties can recompute ordinals."""
    m = _BUCKET_RE.match(transform)
    if m:
        if bucket_fn == "iceberg":
            return iceberg_bucket_column(source, int(m.group(1)), source_type)
        # int sources hash as LONG so the ordinal is a function of the VALUE,
        # not the column width: widening int->long (a legal schema evolution)
        # must not re-bucket existing data — Spark's hash(int) != hash(long)
        # for the same value, and int-width hashing would lose rows to
        # pruning after a widen (literal hashed under the new type).
        if isinstance(source_type, PrimitiveType) and source_type.name == "int":
            source = source.cast("long")
        return F.pmod(F.hash(source), F.lit(int(m.group(1)))).cast("int")
    m = _TRUNCATE_RE.match(transform)
    if m:
        w = int(m.group(1))
        if isinstance(source_type, PrimitiveType) and source_type.name in ("int", "long"):
            return (source - F.pmod(source, F.lit(w))).cast("long")
        if isinstance(source_type, DecimalType):
            # Iceberg-spec decimal truncate interprets W in UNSCALED units:
            # scaled_W = decimal(W, scale(v)); v - ((v % scaled_W + scaled_W)
            # % scaled_W). Spec check value: W=50, scale=2, 10.65 -> 10.50
            # (applying W in the SCALED space would give 0.00, a layout an
            # external spec reader could never recompute). pmod already gives
            # the floor remainder for negatives: -0.05 -> -0.50.
            # precision+1: negative values at the precision floor truncate
            # DOWN past it (decimal(3,2): -9.99 -> -10.00) and an exact-
            # precision cast would throw under ANSI mode.
            scaled_w = decimal.Decimal(w).scaleb(-source_type.scale)
            return (source - F.pmod(source, F.lit(scaled_w)))\
                .cast(f"decimal({min(source_type.precision + 1, 38)},{source_type.scale})")
        return F.substring(source, 1, w)
    if transform == "identity":
        return source
    if transform == "year":
        return F.year(source).cast("int")
    if transform == "month":
        # months since epoch would also work; yyyy-MM is human-debuggable
        return F.date_format(source, "yyyy-MM")
    if transform == "day":
        return F.date_format(source, "yyyy-MM-dd")
    if transform == "hour":
        return F.date_format(source, "yyyy-MM-dd-HH")
    if transform == "void":
        return F.lit(None).cast("int")
    raise ValidationError(f"unknown transform {transform!r}")


def encode_stat(v: Any, decimal_scale: int | None = None) -> Any:
    """Order-preserving JSON-able encoding of a stats bound value.

    ``decimal_scale``: the COLUMN's declared scale — a Decimal encodes into
    that unscaled-int space (deriving the exponent from the value itself
    would put ``Decimal('1E+2')`` and ``Decimal('100.00')`` into different
    spaces, breaking min/max ordering across bounds). A value not
    exactly representable at the column scale yields None (no usable
    bound — quantizing could move a min up or a max down, flipping
    pruning strictness). Without the scale the value's own exponent is
    used — correct only when every bound of the column carries the same
    exponent, which footer stats of a fixed-scale parquet column do."""
    if v is None:
        return None
    if isinstance(v, dt.datetime):
        epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, dt.date):
        return (v - dt.date(1970, 1, 1)).days
    if isinstance(v, decimal.Decimal):
        # UNSCALED int (Iceberg's own decimal representation): parquet fixes
        # the scale per column, so the unscaled ints of one column order
        # exactly like the decimals — unlike str(Decimal), which sorts
        # '200.00' < '99.00' and would mis-prune every </> comparison and
        # min/max merge downstream. Literals enter this space
        # via encode_literal, which scales by the column's declared scale.
        try:
            if decimal_scale is not None:
                u = v.scaleb(decimal_scale, decimal.Context(prec=60))
                iu = int(u)
                return iu if u == iu else None
            return int(v.scaleb(-v.as_tuple().exponent,
                                decimal.Context(prec=60)))
        except (TypeError, ValueError, decimal.InvalidOperation, OverflowError):
            return None  # NaN/Inf decimals: no usable bound
    if isinstance(v, (bytes, bytearray)):
        # hex is order-isomorphic to the underlying bytes (digit alphabet is
        # ascending and prefix rule matches), so binary columns prune too
        return bytes(v).hex()
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def decode_stat(v: Any, t: IcebergType | None = None) -> Any:
    """Inverse of ``encode_stat`` back into USER space for a known column
    type (dates→date, timestamps→datetime, decimal unscaled ints→Decimal,
    binary hex→bytes); everything else passes through."""
    if v is None:
        return None
    if isinstance(t, DecimalType) and isinstance(v, int):
        return decimal.Decimal(v).scaleb(-t.scale, decimal.Context(prec=60))
    if isinstance(t, PrimitiveType):
        n = t.name
        if n == "date":
            return dt.date(1970, 1, 1) + dt.timedelta(days=int(v))
        if n == "timestamp":
            return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(v))
        if n == "timestamptz":
            return (dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                    + dt.timedelta(microseconds=int(v)))
        if n == "binary" and isinstance(v, str):
            return bytes.fromhex(v)
    return v


def encode_literal(v: Any, t: IcebergType | None = None) -> Any:
    """Encode a filter literal into the same space as ``encode_stat``."""
    if isinstance(t, DecimalType):
        # into the column's unscaled-int space EXACTLY: a literal finer than
        # the column scale (x > 99.005 on decimal(_,2)) stays fractional
        # (9900.5) and compares numerically against the int bounds — no
        # rounding, so strictness is never flipped
        try:
            return decimal.Decimal(str(v)).scaleb(
                t.scale, decimal.Context(prec=60))
        except decimal.InvalidOperation:
            return encode_stat(v)
    if isinstance(v, str) and isinstance(t, PrimitiveType) and t.name in ("timestamp", "timestamptz"):
        parsed = dt.datetime.fromisoformat(v)
        return encode_stat(parsed)
    if isinstance(v, str) and t == DATE:
        return encode_stat(dt.date.fromisoformat(v))
    return encode_stat(v)


def _collect_file_stats(paths: list[str], name_to_fid: dict[str, int],
                        bloom_names: tuple[str, ...] = (),
                        nan_names: tuple[str, ...] = (),
                        exact_bound_names: tuple[str, ...] = ()) -> list[dict]:
    """Read parquet FOOTERS and aggregate row-group stats to file level,
    one dict per path, in path order. pyarrow only, no Spark:
    ``_harvest_stats`` calls it on the driver, or on the executors in one
    Spark job for large outputs.
    ``bloom_names`` columns additionally get a per-file bloom filter, which
    requires reading those columns' VALUES (opt-in via the
    write.bloom-columns table property; integer/string columns only).
    ``exact_bound_names`` string/binary columns get their min/max computed
    from the VALUES (never the footer, whose string bounds a parquet writer
    may truncate) and carry a ``bounds_exact`` marker that lets
    ``metadata_min_max`` serve the column (opt-in via the
    write.exact-bounds-columns table property)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..bloom import bloom_build

    out = []
    for path in paths:
        pf = pq.ParquetFile(path)
        meta = pf.metadata
        nrows = meta.num_rows
        fsize = os.path.getsize(path)
        stats: dict[int, dict[str, Any]] = {}
        nan_sides: set[tuple[int, str]] = set()
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaf — top-level pruning only
                    continue
                fid = name_to_fid.get(name)
                if fid is None:
                    continue
                s = col.statistics
                entry = stats.setdefault(fid, {"min": None, "max": None, "null_count": 0, "value_count": 0})
                entry["value_count"] += g.num_rows
                if s is None:
                    entry["min"], entry["max"] = None, None
                    continue
                if s.null_count is not None:
                    entry["null_count"] += s.null_count
                if s.has_min_max:
                    # decimal bounds encode in the COLUMN's declared-scale
                    # unscaled-int space (not the value's own exponent)
                    _fld = pf.schema_arrow.field(name) if name in pf.schema_arrow.names else None
                    _dscale = (_fld.type.scale if _fld is not None
                               and pa.types.is_decimal(_fld.type) else None)
                    try:
                        mn, mx = encode_stat(s.min, _dscale), encode_stat(s.max, _dscale)
                    except Exception:
                        # pyarrow cannot decode footer stats for INT32/
                        # INT64-backed decimals (what Spark writes for
                        # precision ≤ 18): .min raises
                        # ArrowNotImplementedError. The RAW physical values
                        # are exposed though, and for int-backed decimals
                        # they ARE the unscaled ints — exactly the engine's
                        # encode_stat space. Anything else stays unknown:
                        # conservative, the file is never pruned, never lost.
                        fld = pf.schema_arrow.field(name) if name in pf.schema_arrow.names else None
                        if (fld is not None and pa.types.is_decimal(fld.type)
                                and isinstance(s.min_raw, int)
                                and isinstance(s.max_raw, int)):
                            mn, mx = s.min_raw, s.max_raw
                        else:
                            continue
                    # a NaN footer bound (Spark's writer records NaN as a
                    # double column's max) is unordered: that side of the
                    # file's bounds stays absent, as the Iceberg spec has it
                    nan_sides.update((fid, side) for side, v in (("min", mn), ("max", mx))
                                     if v != v)
                    if mn is not None and (entry["min"] is None or mn < entry["min"]):
                        entry["min"] = mn
                    if mx is not None and (entry["max"] is None or mx > entry["max"]):
                        entry["max"] = mx
        for fid, side in nan_sides:
            stats[fid][side] = None
        for name in exact_bound_names:
            fid = name_to_fid.get(name)
            if fid is None or fid not in stats or name not in pf.schema_arrow.names:
                continue
            try:
                col = pf.read(columns=[name]).column(0).combine_chunks()
            except Exception:
                continue
            t_ = col.type
            if not (pa.types.is_string(t_) or pa.types.is_large_string(t_)
                    or pa.types.is_binary(t_) or pa.types.is_large_binary(t_)
                    or pa.types.is_fixed_size_binary(t_)):
                continue  # numeric footer stats are already exact
            import pyarrow.compute as pc

            vals = pc.drop_null(col)
            if len(vals) > 0:
                # Spark orders strings by UTF-8 bytes == code-point order,
                # which is exactly Python/Arrow string ordering
                mm = pc.min_max(vals)
                stats[fid]["min"] = encode_stat(mm["min"].as_py())
                stats[fid]["max"] = encode_stat(mm["max"].as_py())
            stats[fid]["bounds_exact"] = True
        for name in nan_names:
            fid = name_to_fid.get(name)
            if fid is None or fid not in stats:
                continue
            try:
                col = pf.read(columns=[name]).column(0)
            except Exception:
                continue
            if not pa.types.is_floating(col.type):
                continue  # NaN only exists for float/double
            import pyarrow.compute as pc

            stats[fid]["nan_count"] = int(
                pc.sum(pc.is_nan(pc.drop_null(col.combine_chunks()))).as_py() or 0)
        for name in bloom_names:
            fid = name_to_fid.get(name)
            if fid is None or fid not in stats:
                continue
            try:
                col = pf.read(columns=[name]).column(0)
            except Exception:
                continue
            t = col.type
            if not (pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)):
                continue
            stats[fid]["bloom"] = bloom_build(
                v.as_py() for chunk in col.chunks for v in chunk if v.is_valid)
        out.append(
            {
                "file_path": path,
                "record_count": nrows,
                "file_size": fsize,
                "stats": {str(k): v for k, v in stats.items()},
            }
        )
    return out


# The harvest reads the new files on the driver unless they are many. Warm,
# on 4 cores (local[4]), one harvest job takes 0.25-0.47 s at any size (252
# ms for 1 file, 355 ms for 64, 469 ms for 2,048), and driver footer reads
# take ~0.15 ms a file (2.9 ms for 16 files, 182 ms for 1,024, 306 ms for
# 2,048), so the driver reaches the cost of one job near 3,000 files.
HARVEST_DRIVER_MAX_FILES = 2000
# Bloom, NaN-count and exact-bounds columns read values, so their cost grows
# with the bytes written. With all three set, on 2k-row files of 26 KB, the
# driver vs one job: 36 vs 290 ms for 1 file, 130 vs 379 ms for 4 (105 KB),
# 463 vs 528 ms for 8 (206 KB), 631 vs 564 ms for 16 (412 KB): they cross
# near 300 KB.
HARVEST_DRIVER_MAX_VALUE_BYTES = 256 * 1024


def _harvest_stats(spark: SparkSession, paths: list[str], fid_by_name: dict[str, int],
                   bloom: tuple[str, ...], nan: tuple[str, ...], exact: tuple[str, ...],
                   validate=None) -> list[dict]:
    """``_collect_file_stats`` over ``paths``, in path order, on the tier the
    files pick: the driver, unless they exceed ``HARVEST_DRIVER_MAX_FILES``
    files (footers only) or ``HARVEST_DRIVER_MAX_VALUE_BYTES`` bytes (any
    value-reading column set); then one Spark job reads them on the
    executors. ``validate(paths)`` runs before the read on the same tier."""
    if bloom or nan or exact:
        on_driver = sum(os.path.getsize(p) for p in paths) <= HARVEST_DRIVER_MAX_VALUE_BYTES
    else:
        on_driver = len(paths) <= HARVEST_DRIVER_MAX_FILES

    def harvest(ps):
        if validate is not None:
            validate(ps)
        return _collect_file_stats(ps, fid_by_name, bloom, nan, exact)

    if on_driver:
        return harvest(paths)
    sc = spark.sparkContext
    n_slices = max(1, min(len(paths), sc.defaultParallelism))
    try:
        return sc.parallelize(paths, n_slices).mapPartitions(lambda it: harvest(list(it))).collect()
    except Exception as e:
        # an executor's ValidationError reaches the driver inside a Py4J error
        m = re.search(r"ValidationError: (.*)", str(e))
        if m is None:
            raise
        raise ValidationError(m.group(1)) from None


def _partition_values_from_path(path: str, part_names: list[str]) -> dict[str, Any]:
    """Recover partition values from the Hive-style directory layout that
    ``partitionBy`` produced (``_p_name=value``)."""
    vals: dict[str, Any] = {}
    for seg in path.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k.startswith(PARTITION_COL_PREFIX):
                name = k[len(PARTITION_COL_PREFIX):]
                if name in part_names:
                    vals[name] = None if v == "__HIVE_DEFAULT_PARTITION__" else _unescape_hive(v)
    return vals


def canonical_float_str(x: float) -> str:
    """Deterministic engine rendering of a float/double partition value:
    shortest round-trip ``repr`` for finite values (a pure function of the
    typed value, regenerable from the Avro wire), Java/Spark-compatible
    NaN/Infinity spellings (Spark's string→float cast accepts all three)."""
    if x != x:
        return "NaN"
    if x == float("inf"):
        return "Infinity"
    if x == float("-inf"):
        return "-Infinity"
    return repr(x)


def canonicalize_partition_values(spec: PartitionSpec, schema: Schema,
                                  vals: dict[str, Any]) -> dict[str, Any]:
    """Re-render float/double partition strings deterministically, so
    float/double partitions carry their typed value on the Avro wire, not
    [null, string]: the raw dir-name text is Java's legacy
    ``Float/Double.toString`` — a rendering Python cannot regenerate from
    the typed value (e.g. ``1.23456792E8`` where repr says
    ``123456792.0``), which blocked an exact string↔typed round-trip.
    Parsing the Java text and re-rendering via ``canonical_float_str``
    keeps the VALUE identical (both strings parse to the same float) while
    making the engine string a pure function of the typed value. FLOAT
    (32-bit) columns canonicalize through a float32 narrow-then-widen so
    the string matches what an Avro ``float`` wire value widens back to."""
    from .manifest_avro import _transform_result_type

    out = dict(vals)
    for pf in spec.fields:
        v = out.get(pf.name)
        if v is None:
            continue
        t = _transform_result_type(pf, schema)
        if isinstance(t, PrimitiveType) and t.name in ("float", "double"):
            x = float(v)
            if t.name == "float":
                import struct as _struct

                x = _struct.unpack("<f", _struct.pack("<f", x))[0]
            out[pf.name] = canonical_float_str(x)
    return out


def _unescape_hive(v: str) -> str:
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), v)


# Safe implicit widenings on write: (incoming Spark type simpleString ->
# allowed table types). Everything else must match exactly or cast
# explicitly — an incompatible frame must fail DRIVER-SIDE with a clear
# error, not write orphan parquet and die in manifest serde, or
# worse, commit a file whose physical type the read path cannot cast.
_SAFE_WIDEN = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
    "date": set(), "string": set(),
}


def _align_to_schema(df: DataFrame, schema: Schema, subset_ok: bool = False) -> DataFrame:
    """Validate + align an incoming frame to the table schema: columns are
    matched BY NAME (any order), missing optional columns fill NULL, missing
    REQUIRED columns and incompatible types raise ValidationError, extra
    columns are rejected (silently dropping data a caller thought it wrote
    is worse than an error), and every column is cast to the schema's exact
    Spark type so data files carry canonical physical types. ``subset_ok``
    (delete-content files): the frame may carry any SUBSET of the schema —
    equality deletes hold only their key columns."""
    from ..schema import DecimalType as _Dec
    from ..schema import to_spark_type as _tst

    by_name = {f.name: f for f in schema.fields}
    extra = [c for c in df.columns if c not in by_name]
    if extra:
        raise ValidationError(
            f"columns {extra} not in table schema "
            f"{sorted(by_name)} — drop or rename them before writing")
    df_types = dict(df.dtypes)
    fields = [f for f in schema.fields if not subset_ok or f.name in df_types]
    cols = []
    for f in fields:
        want = _tst(f.type)
        if f.name not in df_types:
            if f.required:
                raise ValidationError(f"required column {f.name!r} missing from frame")
            cols.append(F.lit(None).cast(want).alias(f.name))
            continue
        have = df_types[f.name]
        want_s = want.simpleString()
        if have != want_s:
            widen_ok = want_s in _SAFE_WIDEN.get(have, ())
            dec_ok = (isinstance(f.type, _Dec) and have.startswith("decimal(")
                      and _decimal_widens(have, f.type))
            if not (widen_ok or dec_ok):
                raise ValidationError(
                    f"column {f.name!r}: frame type {have} does not fit table "
                    f"type {want_s}; cast explicitly if the conversion is intended")
        cols.append(F.col(f.name).cast(want).alias(f.name))
    return df.select(*cols)


def _decimal_widens(have: str, want) -> bool:
    """decimal(p1,s) fits decimal(p2,s) when p2 >= p1 and scales match."""
    try:
        p1, s1 = map(int, have[len("decimal("):-1].split(","))
    except ValueError:
        return False
    return s1 == want.scale and p1 <= want.precision


def data_path(properties: dict) -> str | None:
    """``write.data.path``: an alternate root for the data and delete trees,
    e.g. metadata on s3:// with data on a path both Spark and the driver can
    reach. None keeps them under the table location."""
    return properties.get("write.data.path")


def _column_list(properties: dict, key: str) -> tuple[str, ...]:
    raw = properties.get(key, "")
    return tuple(c.strip() for c in raw.split(",") if c.strip())


def _estimated_files(df: DataFrame, target_file_size: int) -> int | None:
    """How many ``target_file_size`` files ``df`` fills by Catalyst's size
    estimate, or None when the plan has none (parallelized local data
    reports Long.MaxValue). The estimate is the smaller of the plan's own
    and the sum of its leaves': without statistics a join estimates the
    PRODUCT of its children's sizes (an 82 KB scan joined to a 1.5 KB one
    estimates 98 MB), while the rows written come from those leaves. Read
    from the optimized plan, so it runs no Spark job; asking the input for
    its partition count would run its adaptive plan (broadcasts, sort
    sampling, shuffle map stages) once before the write runs it again."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        est = min(int(plan.stats().sizeInBytes()),
                  sum(int(leaves.apply(i).stats().sizeInBytes())
                      for i in range(leaves.size())))
    except Exception:
        return None  # estimation is best-effort; never fail a write over it
    if 0 < est < (1 << 50):
        return min(est // target_file_size + 1, (1 << 31) - 1)
    return None


def _range_distribute(df: DataFrame, n_files: int | None, keys: list) -> DataFrame:
    """``df`` range-partitioned on ``keys`` into ``n_files`` tasks (the
    ``_estimated_files`` count), so the files' key ranges are disjoint.
    One file needs no shuffle: a coalesce and the local sort give the same
    layout. Without an estimate the input keeps its own partition count,
    which runs its plan once to count them."""
    if n_files == 1:
        return df.coalesce(1)
    return df.repartitionByRange(n_files or df.rdd.getNumPartitions(), *keys)


def write_data_files(
    table,
    df: DataFrame,
    content: int = CONTENT_DATA,
    schema: Schema | None = None,
    spec: PartitionSpec | None = None,
    *,
    target_file_size: int | None = None,
    keep_order: bool = False,
) -> list[DataFileEntry]:
    """Write ``df`` as parquet files of ``table`` and return manifest entries
    with real stats, stamped with the table's next sequence number (the
    commit re-stamps them if it lands later). Spark executors write the
    files; ``_harvest_stats`` then reads their footers on the driver, or in
    one Spark job above 2,000 files (256 KB written when a value-reading
    column is set; see the module docstring), so a small write runs one job.

    Data files take the table's current schema, default spec and sort order
    and the ``write.*`` properties listed in the module docstring. Delete
    files (``content`` other than data) pass their own ``schema`` and
    ``spec`` and land under ``deletes/``. Compaction overrides the table's
    ``target_file_size``, and ``keep_order`` writes an already clustered
    input (a z-order rewrite) without the sort order or range distribution.

    Under ``write.data.path`` entries carry ABSOLUTE paths (the same
    convention as ``add_files`` imports), which the scan resolves unchanged.
    """
    md = table.metadata
    props = md.properties
    location = table.location
    data_root = data_path(props) or location
    bucket_fn = resolve_bucket_fn(props)
    bloom_columns = nan_count_columns = exact_bounds_columns = ()
    distribution_mode = "none"
    if content == CONTENT_DATA:
        schema, spec, subdir = md.current_schema, md.default_spec, "data"
        sort_order = None if keep_order else md.default_sort_order
        if target_file_size is None:
            raw = props.get("write.target-file-size-bytes")
            target_file_size = int(raw) if raw else DEFAULT_TARGET_FILE_SIZE
        if not keep_order:
            distribution_mode = props.get("write.distribution-mode", "none")
        bloom_columns = _column_list(props, "write.bloom-columns")
        nan_count_columns = _column_list(props, "write.nan-count-columns")
        exact_bounds_columns = _column_list(props, "write.exact-bounds-columns")
    else:
        sort_order, subdir = None, "deletes"
        target_file_size = DEFAULT_TARGET_FILE_SIZE
    spark = table.spark
    schema_id = md.current_schema_id
    sequence_number = table._next_sequence()

    write_id = uuid_mod.uuid4().hex[:16]
    out_dir = os.path.join(data_root, subdir, write_id)

    # equality-delete files legitimately carry ONLY their key columns (the
    # equality_ids); align/validate against just those fields for them
    df = _align_to_schema(df, schema, subset_ok=(content != CONTENT_DATA))

    fid_by_name = {f.name: f.field_id for f in schema.fields}
    type_by_name = {f.name: f.type for f in schema.fields}

    part_cols: list[str] = []
    for pf in spec.fields:
        src = schema.find_field_by_id(pf.source_id)
        if src is None:
            raise ValidationError(f"partition source field {pf.source_id} not in schema")
        df = df.withColumn(PARTITION_COL_PREFIX + pf.name,
                           transform_column(pf.transform, F.col(src.name), src.type, bucket_fn=bucket_fn))
        part_cols.append(PARTITION_COL_PREFIX + pf.name)

    sort_exprs = []
    if sort_order and sort_order.fields:
        for sf in sort_order.fields:
            f_ = schema.find_field_by_id(sf.source_id)
            if f_ is None:
                continue
            c = transform_column(sf.transform, F.col(f_.name), f_.type)
            c = c.desc() if sf.direction == "desc" else c.asc()
            sort_exprs.append(c)

    # Iceberg write.distribution-mode=range: range-shuffle on (partition,
    # sort key) so each task owns a disjoint key range (within its
    # partition, partitions still co-locating) — per-file min/max become
    # disjoint and point scans prune to ~1 file. Without it
    # sortWithinPartitions only clusters locally and shuffled input still
    # gives every file full-domain bounds.
    range_keys = ([*map(F.col, part_cols), *sort_exprs]
                  if distribution_mode == "range" and sort_exprs else [])
    if range_keys:
        df = _range_distribute(df, _estimated_files(df, target_file_size), range_keys)
    elif part_cols:
        # hash co-location: rows of one partition into few tasks →
        # few, large files (Iceberg write.distribution-mode=hash; the
        # default here because unclustered partitioned writes spray
        # every partition across every task — small-files storm)
        df = df.repartition(*[F.col(c) for c in part_cols])
    elif n_files := _estimated_files(df, target_file_size):
        # honor the target file size for unpartitioned writes: without
        # this, every input partition becomes a file no matter how small
        # (the reference's writer ignores its size config the same way —
        # table/writer.go:57-59). Input without an estimate is handled by
        # post-write consolidation below; a narrow coalesce never raises
        # the partition count.
        df = df.coalesce(n_files)
    if sort_exprs:
        df = df.sortWithinPartitions(*sort_exprs)

    writer = df.write.mode("append")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_dir)

    paths: list[str] = []
    for root, _dirs, files in os.walk(out_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                paths.append(os.path.join(root, fn))
    if not paths:
        return []

    # post-write small-file consolidation (unpartitioned only): when the
    # written output is far below target size per file, rewrite it once into
    # right-sized files. Triggers exactly when data is small (so the second
    # pass is cheap) and never when files are already near target.
    if not part_cols and len(paths) > 1:
        total = sum(os.path.getsize(p) for p in paths)
        want = max(1, int(total // target_file_size) + 1)
        if want <= len(paths) // 2:
            merged_dir = out_dir + "-c"
            (spark.read.schema(df.schema).parquet(out_dir).coalesce(want)
             .write.mode("overwrite").parquet(merged_dir))
            shutil.rmtree(out_dir)
            os.rename(merged_dir, out_dir)
            paths = []
            for root, _dirs, files in os.walk(out_dir):
                for fn in files:
                    if fn.endswith(".parquet"):
                        paths.append(os.path.join(root, fn))
    raw = _harvest_stats(spark, paths, fid_by_name, bloom_columns,
                         nan_count_columns, exact_bounds_columns)

    part_names = [pf.name for pf in spec.fields]
    entries: list[DataFileEntry] = []
    for r in raw:
        partition = _partition_values_from_path(r["file_path"], part_names) if part_names else {}
        if partition:
            partition = canonicalize_partition_values(spec, schema, partition)
        entries.append(
            DataFileEntry(
                content=content,
                # paths are stored RELATIVE to the table location so that
                # rename_table stays a pure metadata move; an external
                # write.data.path tree keeps absolute paths instead
                file_path=(os.path.relpath(r["file_path"], location)
                           if data_root == location else r["file_path"]),
                file_format="parquet",
                spec_id=spec.spec_id,
                schema_id=schema_id,
                record_count=r["record_count"],
                file_size=r["file_size"],
                partition=partition,
                column_stats={int(k): v for k, v in r["stats"].items()},
                sequence_number=sequence_number,
                equality_ids=(),
            )
        )
    return entries


def _import_partition_values(path: str, spec: PartitionSpec) -> dict[str, Any]:
    """Partition values for an IMPORTED file from its Hive-style directory
    segments (plain ``name=value``, the layout external writers produce).
    Every spec field must be derivable — an import that cannot prove its
    partition values would register entries whose (null) tuples tell
    external readers the transform produced null for every row, so pruning
    would wrongly drop the file. Mirrors Iceberg's add_files contract."""
    segs = dict(
        seg.partition("=")[::2]
        for seg in path.split(os.sep)
        if "=" in seg
    )
    vals: dict[str, Any] = {}
    for pf in spec.fields:
        if pf.transform.startswith("bucket["):
            # Iceberg's add_files contract: bucket-partitioned imports are
            # rejected. A path segment like kb=3 is UNPROVABLE — external
            # writers do not share the engine's bucket hash, and a wrong
            # ordinal silently prunes the file's rows out of existence.
            raise ValidationError(
                f"add_files: table partitions by {pf.transform} ({pf.name!r}); "
                "bucket ordinals cannot be verified from a directory layout — "
                "rewrite the data through append() instead (Iceberg rejects "
                "bucket-partitioned imports for the same reason)"
            )
        if pf.name not in segs:
            raise ValidationError(
                f"add_files: {path!r} has no '{pf.name}=' path segment for "
                f"partition field {pf.name!r} ({pf.transform}); imported files "
                "must encode every partition value in their directory layout, "
                "or the table must be unpartitioned"
            )
        v = segs[pf.name]
        vals[pf.name] = None if v == "__HIVE_DEFAULT_PARTITION__" else _unescape_hive(v)
    return vals


def _arrow_fits(itype: IcebergType, at) -> bool:
    """Can a parquet column of arrow type ``at`` be read AS Iceberg type
    ``itype`` without changing values or the scan's output schema? Equal or
    upward-widening physical types only — importing a double file under a
    long column would silently retype the whole scan (schema merge widens
    it) and let fractional values into an integer column."""
    import pyarrow as pa

    from ..schema import DecimalType, FixedType, PrimitiveType

    if isinstance(itype, DecimalType):
        return (pa.types.is_decimal(at)
                and at.scale == itype.scale and at.precision <= itype.precision)
    if isinstance(itype, FixedType):
        return pa.types.is_fixed_size_binary(at)
    if not isinstance(itype, PrimitiveType):
        return True  # nested: top-level pruning/alignment only
    n = itype.name
    if n == "long":
        return pa.types.is_signed_integer(at)
    if n == "int":
        return pa.types.is_signed_integer(at) and at.bit_width <= 32
    if n == "double":
        return pa.types.is_floating(at)
    if n == "float":
        return pa.types.is_float32(at) or pa.types.is_float16(at)
    if n == "string":
        return pa.types.is_string(at) or pa.types.is_large_string(at)
    if n == "boolean":
        return pa.types.is_boolean(at)
    if n == "date":
        return pa.types.is_date(at)
    if n in ("timestamp", "timestamptz"):
        return pa.types.is_timestamp(at)
    if n == "time":
        return pa.types.is_time(at)
    if n == "binary":
        return pa.types.is_binary(at) or pa.types.is_large_binary(at)
    if n == "uuid":
        return (pa.types.is_string(at)
                or (pa.types.is_fixed_size_binary(at) and at.byte_width == 16))
    return True


def _validate_import_types(paths: list[str], fields: list[tuple]) -> None:
    """Executor-side add_files guard: every file column present in the table
    schema must physically FIT the declared type (see ``_arrow_fits``)."""
    import pyarrow.parquet as pq

    by_name = dict(fields)
    for path in paths:
        asch = pq.ParquetFile(path).schema_arrow
        for aname in asch.names:
            it = by_name.get(aname)
            if it is None:
                continue
            at = asch.field(aname).type
            if not _arrow_fits(it, at):
                raise ValidationError(
                    f"add_files: {path!r} column {aname!r} has physical type "
                    f"{at} which does not fit table type {it}; rewrite or "
                    f"cast the file before importing")


def register_data_files(
    spark: SparkSession,
    paths: list[str],
    schema: Schema,
    schema_id: int,
    sequence_number: int,
    spec: PartitionSpec = UNPARTITIONED,
) -> list[DataFileEntry]:
    """Zero-copy import (Iceberg ``add_files`` procedure; absent in the
    reference): register EXISTING parquet files as table data without
    rewriting a byte. Footer stats are read by the same ``_harvest_stats``
    the write path uses (on the driver up to 2,000 files, else in one Spark
    job), so imported files prune like written ones. Every file's physical
    types are checked against the table schema on the tier that reads it.
    Entries keep their absolute paths — the scan joins them unchanged, and
    snapshot expiry refuses to delete files outside the table location.

    At 100 TB this is the difference between onboarding a dataset in one
    metadata commit and a full rewrite of the corpus."""
    paths = [os.path.abspath(p) for p in paths]
    for p in paths:
        if not os.path.isfile(p):
            raise ValidationError(f"add_files: {p!r} is not a file")
    if not paths:
        return []
    # schema check on one footer (names must cover the table schema so scans
    # can select every current column; extra columns are pruned by select)
    import pyarrow.parquet as pq

    # columns reconstructible from the hive path (identity partition
    # sources) may be absent from the data files — the classic hive-table
    # migration layout; the scan reconstitutes them from partition metadata
    reconstructible = {
        f.name
        for pf in spec.fields if pf.transform == "identity"
        if (f := schema.find_field_by_id(pf.source_id)) is not None
    }
    have = {c.split(".")[0] for c in pq.ParquetFile(paths[0]).schema.names}
    missing = [f.name for f in schema.fields
               if f.name not in have and f.name not in reconstructible]
    if missing:
        raise ValidationError(f"add_files: files lack table columns {missing}")

    fid_by_name = {f.name: f.field_id for f in schema.fields}
    field_types = [(f.name, f.type) for f in schema.fields]
    raw = _harvest_stats(spark, paths, fid_by_name, (), (), (),
                         validate=lambda ps: _validate_import_types(ps, field_types))
    out = []
    for r in raw:
        vals = canonicalize_partition_values(
            spec, schema, _import_partition_values(r["file_path"], spec))
        stats = {int(k): v for k, v in r["stats"].items()}
        # identity partitions give EXACT stats for columns the file lacks
        # (every row shares the partition value) — imported files then prune
        # like written ones on their partition column
        for pf in spec.fields:
            if pf.transform != "identity":
                continue
            src = schema.find_field_by_id(pf.source_id)
            if src is None or src.field_id in stats:
                continue
            enc = _partition_string_to_stat(src.type, vals.get(pf.name))
            rc = r["record_count"]
            stats[src.field_id] = {
                "min": enc, "max": enc,
                "null_count": rc if vals.get(pf.name) is None else 0,
                "value_count": rc,
            }
        out.append(
            DataFileEntry(
                content=CONTENT_DATA,
                file_path=r["file_path"],  # absolute: external to the table tree
                file_format="parquet",
                spec_id=spec.spec_id,
                schema_id=schema_id,
                record_count=r["record_count"],
                file_size=r["file_size"],
                partition=vals,
                column_stats=stats,
                sequence_number=sequence_number,
                equality_ids=(),
            )
        )
    return out


def _partition_string_to_stat(t: IcebergType, s: Any) -> Any:
    """Path-derived partition string → the engine's stat-space value (the
    encoding ``encode_stat`` produces: dates→days, timestamps→µs)."""
    if s is None or not isinstance(t, PrimitiveType):
        return None
    n = t.name
    if n in ("int", "long", "time"):
        return int(s)
    if n in ("float", "double"):
        return float(s)
    if n == "boolean":
        return str(s).lower() == "true"
    if n == "date":
        return (dt.date.fromisoformat(s) - dt.date(1970, 1, 1)).days
    if n in ("timestamp", "timestamptz"):
        parsed = dt.datetime.fromisoformat(s)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=dt.timezone.utc)
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return int((parsed - epoch).total_seconds() * 1_000_000)
    if n in ("string", "uuid"):
        return str(s)
    return None

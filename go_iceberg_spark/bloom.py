"""Per-file bloom filters for point-lookup pruning (engine extension).

Min/max bounds cannot prune an equality probe on a column that is not
clustered — every file's range covers the probed value. An opt-in bloom
filter per (file, column), built at write time and stored in the manifest
entry's stats, lets ``might_match`` drop files that provably do not contain
the value: the file-level analogue of parquet's row-group bloom filters,
playing the role Iceberg delegates to puffin blobs.

Layout: 2048 bits (256 bytes -> 512 hex chars per column per file), 4
md5-derived probes per value — ~1.2% false-positive rate at 1000 distinct
values per file, and false positives only cost a wasted read (never
correctness). Values are canonicalized with ``str()`` and building is
restricted to integer/string columns so the write-side and probe-side keys
agree bit-for-bit.
"""

from __future__ import annotations

import decimal
import hashlib

BLOOM_BITS = 2048
BLOOM_HASHES = 4


def _positions(key: str) -> list[int]:
    return [
        int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16) % BLOOM_BITS
        for i in range(BLOOM_HASHES)
    ]


def bloom_key(value) -> str:
    """Canonical probe key — must match on write and probe sides.

    Integral numerics canonicalize to the int rendering: Spark coerces
    ``int_col = 5.0`` to a match, so a float/decimal literal must probe the
    same key the int column's writer hashed (``str(5.0)`` = "5.0" would
    miss the stored "5" — a bloom false NEGATIVE, i.e. silent row loss).
    Non-integral numerics keep their rendering: they can never equal an int
    value, so a miss is correct."""
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, float) and not (value != value) and value.is_integer():
        return str(int(value))
    if isinstance(value, decimal.Decimal) and value == value.to_integral_value():
        return str(int(value))
    return str(value)


def bloom_build(values) -> str:
    """Hex bitmap over an iterable of raw (non-null) values."""
    bits = 0
    for v in values:
        for p in _positions(bloom_key(v)):
            bits |= 1 << p
    return format(bits, "x")


def bloom_might_contain(hex_bits: str, value) -> bool:
    bits = int(hex_bits, 16) if hex_bits else 0
    return all((bits >> p) & 1 for p in _positions(bloom_key(value)))

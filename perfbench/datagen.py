"""Seeded generator for the benchmark's input tables.

Writes the ten tables ``go_iceberg_spark.workload`` reads (``TABLES``), one
parquet file each, with the same column names and types as the project's
test data: a TPC-H-style star schema (region, nation, customer, supplier,
part, orders, lineitem), an ``events`` stream, ``documents`` (word texts with
~5% near-duplicates, the dedup operators' input) and ``embeddings`` (64-dim
unit vectors around ten labelled centres).

Row counts scale with ``sf`` the way the test data does (lineitem ~= 6M x sf,
orders = 1.5M x sf). The same ``(seed, sf)`` always gives the same values.
``(l_orderkey, l_linenumber)`` is unique, so it can key an upsert.

    python3 -m perfbench.datagen OUT_DIR SEED SF [--only a,b] [--files N]

writes the tables and prints their row counts as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
WORDS = ("a the data table row column key value part line order customer query "
         "join merge scan filter sort group agg hash window batch stream spark "
         "vector fast slow big small").split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()),
                                          pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(50, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def lineitem_batch(rng: np.random.Generator, orderkeys: np.ndarray, order_days: np.ndarray,
                   n_part: int, n_supp: int, max_lines: int = 7) -> pa.Table:
    """1..max_lines lines for each order, numbered from 1."""
    lines = rng.integers(1, max_lines + 1, len(orderkeys))
    n = int(lines.sum())
    pos = np.repeat(np.arange(len(orderkeys)), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ship_days = order_days[pos] + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": orderkeys[pos].astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(EPOCH_1995, ship_days * DAY_US),
    })


def _order_days(seed: int, n_orders: int) -> np.ndarray:
    return np.random.default_rng([seed, 100]).integers(0, 2404, n_orders)


def _table(name: str, seed: int, sf: float) -> pa.Table:
    n = sizes(sf)
    rng = np.random.default_rng([seed, TABLES.index(name)])
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        k = n["customer"]
        return pa.table({
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": _names("Customer", k),
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, SEGMENTS, k),
        })
    if name == "supplier":
        k = n["supplier"]
        return pa.table({
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": _names("Supplier", k),
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        })
    if name == "part":
        k = n["part"]
        return pa.table({
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": _pick(rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], k),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(rng, PART_TYPES, k),
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1),
        })
    if name == "orders":
        k = n["orders"]
        return pa.table({
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts(EPOCH_1995, _order_days(seed, k) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, k),
        })
    if name == "lineitem":
        k = n["orders"]
        return lineitem_batch(rng, np.arange(k, dtype=np.int64), _order_days(seed, k),
                              n["part"], n["supplier"])
    if name == "events":
        k = n["events"]
        return pa.table({
            "event_id": np.arange(k, dtype=np.int64),
            "ts": _ts(EPOCH_2024, np.sort(rng.integers(0, 30 * DAY_US, k))),
            "user_id": rng.integers(0, n["users"], k).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": np.round(rng.exponential(20.0, k) + 0.01, 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        })
    if name == "documents":
        k = n["documents"]
        words = np.array(WORDS)
        texts: list[str] = []
        for i in range(k):
            if i >= 20 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(8, 80)))]))
        return pa.table({
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, k),
            "source": _pick(rng, [f"src{i}" for i in range(18)], k),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        k = n["embeddings"]
        labels = rng.integers(0, 10, k)
        centres = rng.normal(0.0, 1.0, (10, 64))
        vecs = centres[labels] + rng.normal(0.0, 0.8, (k, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        })
    raise ValueError(f"unknown table {name!r}")


def generate(out_dir: str, seed: int, sf: float, only: tuple[str, ...] = TABLES,
             files: int = 1) -> dict[str, int]:
    """Write the tables in ``only`` under ``out_dir`` and return their row
    counts. Each table draws from its own seeded stream, so a subset has the
    same values as a full run. With ``files`` > 1 a table is written as that
    many files of consecutive rows, ``<out_dir>/<name>/part-<i>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in only:
        t = _table(name, seed, sf)
        counts[name] = t.num_rows
        if files == 1:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
            continue
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        step = -(-t.num_rows // files)
        for i in range(files):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(out_dir, name, f"part-{i}.parquet"))
    return counts


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Write the benchmark's input tables.")
    p.add_argument("out_dir")
    p.add_argument("seed", type=int)
    p.add_argument("sf", type=float)
    p.add_argument("--only", default=",".join(TABLES))
    p.add_argument("--files", type=int, default=1)
    args = p.parse_args(argv)
    counts = generate(args.out_dir, args.seed, args.sf, tuple(args.only.split(",")), args.files)
    print(json.dumps(counts))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

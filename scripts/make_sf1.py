"""Regenerate the /tmp/sf1 soak fixture (10x sf0.1 with join-consistent key
offsets) — the dataset behind SOAK.md / SOAK_sf1.json / BENCH_sf1_r*.json.

Recipe (kept stable so sf1 numbers stay comparable across runs):
- every table except region/nation is replicated 10x; copy k offsets every
  *key* column (ids and foreign keys alike) by k * 10_000_000, so joins
  stay consistent within a copy and never cross copies;
- region/nation are dimensions shared by all copies (copied once);
- ``documents.text`` gets a per-copy suffix " c{k}" (k>=1), so near-dup
  matching stays within copies and dedup pair output scales linearly
  instead of quadratically.

Usage: python scripts/make_sf1.py [src_dir] [out_dir]
       (defaults: /root/testdata/sf0.1 -> /tmp/sf1)
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COPIES = 10
STRIDE = 10_000_000

# key columns to offset per table (ids + foreign keys; everything else rides)
KEYS = {
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SHARED_DIMS = ["region", "nation"]
SMALL_KEYS = {"c_nationkey", "s_nationkey"}  # reference shared dims — no offset


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    os.makedirs(out, exist_ok=True)

    for name in SHARED_DIMS:
        pq.write_table(pq.read_table(f"{src}/{name}.parquet"), f"{out}/{name}.parquet")

    for name, keys in KEYS.items():
        base = pq.read_table(f"{src}/{name}.parquet")
        copies = []
        for k in range(COPIES):
            t = base
            for col in keys:
                if col in SMALL_KEYS:
                    continue
                i = t.schema.get_field_index(col)
                t = t.set_column(i, col, pc.add(t[col], k * STRIDE))
            if name == "documents" and k > 0:
                i = t.schema.get_field_index("text")
                t = t.set_column(
                    i, "text",
                    pc.binary_join_element_wise(t["text"], pa.scalar(f" c{k}"), ""),
                )
            copies.append(t)
        pq.write_table(pa.concat_tables(copies), f"{out}/{name}.parquet")
        print(f"{name}: {base.num_rows} -> {base.num_rows * COPIES}")


if __name__ == "__main__":
    main()

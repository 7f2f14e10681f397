"""Generate larger scale fixtures from sf0.1 with join-consistent key offsets
— the recipe of scripts/make_sf1.py (copies with strided keys, shared
region/nation dims), generalized to ANY copy count and rewritten to stream
one copy per row group through a ParquetWriter instead of concatenating all
copies in memory (100 copies of sf0.1 would otherwise hold ~10x sf1 in RAM).

Document-text copy isolation is TOTAL, not dilutive: every word gets a
per-copy suffix (see mark_text), making copy vocabularies disjoint —
cross-copy shingle/token Jaccard is exactly 0 while within-copy structure
is preserved bit-exactly. The two weaker recipes this replaced were both
measured to fake super-linear growth in the scaling audit: make_sf1's
trailing " c{k}" suffix left cross-copy 3-gram Jaccard ~0.94 (every doc
near-dup-matched every copy of itself: quadratic pair output, 7.5 GB
shuffled, 24 GB heap OOM at sf10), and marker INSERTION every 3rd word
still left J ~ 0.14, whose 4*J^4 ~ 0.2% banding rate turned the quadratic
cross-copy pair count into a shuffle term that dominated by sf10. Near-dup
structure must stay WITHIN copies so dedup output scales linearly — the
property the scaling audit needs to measure ALGORITHM growth, not
fixture-output growth.

sf1 itself stays on make_sf1.py so its on-disk layout (and therefore every
round-over-round BENCH_sf1 number) is bit-stable; this script is for the
scaling-audit fixtures: 10 copies = sf1m (the audit's recipe-consistent
1.0 point), 30 = sf3, 100 = sf10.

Usage: python scripts/make_scale.py COPIES [src_dir] [out_dir]
       e.g. python scripts/make_scale.py 30 /root/testdata/sf0.1 /tmp/sf3
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STRIDE = 10_000_000

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


def mark_text(text: str, k: int) -> str:
    """Suffix EVERY word with a per-copy tag ("w" -> "wc{k}q"): the copy-k
    token vocabulary is disjoint from every other copy's, so cross-copy
    shingle/token Jaccard is EXACTLY 0 while within-copy similarity
    structure is preserved bit-exactly (the token set maps bijectively per
    copy — two docs in the same copy have the same shingle-match structure
    as their base-corpus originals).

    Why not marker INSERTION (a marker token after
    every MARK_EVERY words): it only dilutes cross-copy Jaccard (J ~ 0.14
    at MARK_EVERY=3), and the 4x4 LSH banding turns ~4*J^4 ~ 0.2% of the
    QUADRATICALLY-growing cross-copy pair count into candidates. Measured
    in the scaling audit (SCALING_r12.json): within-copy candidates exactly linear (256
    per copy at 10/30/100 copies), cross-copy candidates exactly quadratic
    (701 -> 6,115 -> 69,356; ratios 8.7 and 11.3 vs 9 and 11.1 predicted)
    — by sf10 the fixture artifact dominated the verification join's
    shuffle and faked a super-linear exponent (1.18 on the last step) for
    a query that is linear on corpora whose near-dup cluster sizes do not
    grow with corpus size. Word-suffixing removes the artifact at the
    root: J = 0 means the candidate floor is the banding's RANDOM
    collision rate, which 60-bit band keys make negligible."""
    return " ".join(w + f"c{k}q" for w in text.split(" "))


def make_copy(base: pa.Table, name: str, k: int) -> pa.Table:
    t = base
    for col in KEYS[name]:
        if col in SMALL_KEYS:
            continue
        i = t.schema.get_field_index(col)
        t = t.set_column(i, col, pc.add(t[col], k * STRIDE))
    if name == "documents" and k > 0:
        i = t.schema.get_field_index("text")
        marked = pa.array(
            [None if v is None else mark_text(v, k)
             for v in t["text"].to_pylist()],
            type=pa.string(),
        )
        t = t.set_column(i, "text", marked)
    return t


def main() -> None:
    copies = int(sys.argv[1])
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/sfx{copies}"
    if copies < 1:
        raise SystemExit("copies must be a positive int")
    os.makedirs(out, exist_ok=True)

    for name in SHARED_DIMS:
        pq.write_table(pq.read_table(f"{src}/{name}.parquet"), f"{out}/{name}.parquet")

    for name in KEYS:
        base = pq.read_table(f"{src}/{name}.parquet")
        with pq.ParquetWriter(f"{out}/{name}.parquet", base.schema) as w:
            for k in range(copies):
                w.write_table(make_copy(base, name, k))
        print(f"{name}: {base.num_rows} -> {base.num_rows * copies}")


if __name__ == "__main__":
    main()

"""Adversarial-skew soak for the dedup family.

The sf1 soak corpus keeps near-dups *within* replicated copies; real web
corpora have power-law duplicate clusters. This soak builds the hostile
shape on purpose:

- ONE hot cluster: N identical documents (default 10,000) — every LSH band
  bucket for that text holds the whole cluster, so candidate generation
  must stream C(N,2) ≈ 50M pairs through one logical bucket without
  materializing per-bucket arrays (a groupBy+collect_list shape dies
  exactly here) and AQE must be able to skew-split the hot partition;
- ONE universal boilerplate sentence appended to EVERY document — its
  shingles sit in every shingle set, occasionally dominating whole minhash
  bands and creating large FALSE-candidate buckets that verification must
  reject;
- unique random background docs (default 5,000), so true background pairs
  come only from the workload's planted _corpus copies.

Cluster doc_ids are chosen ≡ 7 (mod 25) so the workload's _corpus plants
NO extra copies of the cluster text — the cluster's expected pair count is
exactly N·(N−1)/2, a closed form the 10k run is checked against.

Phases:
1. cluster=1000: FULL oracle match (value multiset vs DuckDB) for
   dedup_minhash_lsh / dedup_simhash / dedup_ngram_jaccard via
   scripts/parity.run_parity on the fixture dir.
2. cluster=10000 (~50M pairs): completion without executor OOM, cluster
   pair count == closed form for minhash AND simhash, boilerplate-only
   jaccard output matches the 128-df stop-shingle cap, and the AQE
   plans the public minhash query executes show skew-split handling of
   the band self-join (skew=true) with the skew thresholds lowered enough
   to trigger.

Usage: python scripts/skew_soak.py [out_dir]   (writes fixtures under /tmp)
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BOILERPLATE = "subscribe to our newsletter for updates terms of service apply"
CLUSTER_TEXT = "breaking market report on commodity prices and freight rates today"
SRC_TABLES = "/root/testdata/sf0.01"


def build_fixture(out_dir: str, n_cluster: int, n_background: int, seed: int = 7) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = [f"tok{i:04d}" for i in range(4000)]
    ids, texts = [], []
    # cluster ids ≡ 7 (mod 25): the workload's _corpus plants copies only of
    # doc_id % 25 in {0, 1}, so the cluster stays exactly n_cluster strong
    for k in range(n_cluster):
        ids.append(25 * k + 7)
        texts.append(f"{CLUSTER_TEXT} {BOILERPLATE}")
    nxt = 0
    for _ in range(n_background):
        while nxt % 25 == 7:
            nxt += 1
        ids.append(25 * n_cluster + nxt)
        nxt += 1
        body = " ".join(rng.choice(vocab) for _ in range(20))
        texts.append(f"{body} {BOILERPLATE}")
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array(["skew"] * len(ids), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))
    # the parity harness registers every table; link the tiny sf0.01 ones
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "embeddings"]:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC_TABLES, f"{name}.parquet"), dst)


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/skew_soak"

    from pyspark.sql import functions as F

    from go_iceberg_spark.plans.inspect import executed_plans
    from go_iceberg_spark.session import get_spark
    from go_iceberg_spark.workload import QUERIES
    from scripts.parity import run_parity

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    # make the hot bucket cross AQE's skew thresholds at fixture volume
    # (~300 KB of band rows for the 10k cluster) — on a real cluster the
    # defaults (256 MB) play the same role at real payload sizes
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

    # ---- phase 1: full oracle match at cluster=1000 -----------------------
    dir_a = os.path.join(root, "c1000")
    build_fixture(dir_a, n_cluster=1000, n_background=5000)
    print("== phase 1: oracle match, cluster=1000 ==", flush=True)
    failures = run_parity(dir_a, ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"])
    if failures:
        sys.exit(1)

    # ---- phase 2: completion + closed form + skew split at cluster=10000 --
    dir_b = os.path.join(root, "c10000")
    n_cluster = 10_000
    build_fixture(dir_b, n_cluster=n_cluster, n_background=5000)
    expected_cluster_pairs = n_cluster * (n_cluster - 1) // 2
    cluster_max_id = 25 * (n_cluster - 1) + 7
    print(f"== phase 2: cluster=10000 ({expected_cluster_pairs:,} cluster pairs) ==", flush=True)

    results = {}
    for name in ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard"]:
        t0 = time.time()
        df = QUERIES[name].fn(spark, dir_b)
        is_cluster = (
            (F.col("id_a") % 25 == 7) & (F.col("id_a") <= cluster_max_id)
            & (F.col("id_b") % 25 == 7) & (F.col("id_b") <= cluster_max_id)
        )
        agg = df.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(is_cluster, 1).otherwise(0)).alias("cluster"),
        ).collect()[0]
        wall = time.time() - t0
        results[name] = {"total": agg["total"], "cluster_pairs": agg["cluster"],
                         "wall_s": round(wall, 1)}
        print(f"  {name}: total={agg['total']:,} cluster={agg['cluster']:,} "
              f"wall={wall:.1f}s", flush=True)

    ok = True
    for name in ["dedup_minhash_lsh", "dedup_simhash"]:
        if results[name]["cluster_pairs"] != expected_cluster_pairs:
            print(f"FAIL {name}: cluster pairs {results[name]['cluster_pairs']:,} "
                  f"!= closed form {expected_cluster_pairs:,}")
            ok = False
    # stop-shingle df cap (128): cluster + boilerplate shingles are dropped,
    # so jaccard finds NO cluster pairs — the cap doing its 100 TB job
    if results["dedup_ngram_jaccard"]["cluster_pairs"] != 0:
        print("FAIL dedup_ngram_jaccard: df cap should drop all cluster shingles")
        ok = False

    # ---- skew-split observation on the band self-join ---------------------
    # the public query computes eagerly, so the band self-join runs while
    # the query is built; its final adaptive plan carries the skew markers
    # (SortMergeJoin(skew=true), "AQEShuffleRead ... skewed"). At fixture
    # volume the 63k-row band table broadcasts (the fast plan); disable
    # size-based broadcast so the run takes the shuffle-join shape a 100 TB
    # corpus would get, where AQE's skew handling is the safety net
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with executed_plans(spark) as plans:
            QUERIES["dedup_minhash_lsh"].fn(spark, dir_b)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    skewed = any("skew=true" in p for p in plans)
    print(f"  AQE skew-split in executed band join: {skewed}", flush=True)
    if not skewed:
        print("FAIL: no skew=true in the AQE executed plan")
        ok = False

    print("SKEW_SOAK", "PASS" if ok else "FAIL", results)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

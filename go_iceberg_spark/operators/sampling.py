"""Deterministic sampling and sequence packing for dataset mixing.

A training-data pipeline needs reproducible sampling — "10% of source A,
40% of source B" must yield the SAME rows on every run, on any engine, at
any parallelism. Random samplers (Bernoulli/reservoir) cannot promise that
across engines, so both operators here key off the md5-based
``portable_hash60`` (dedup.py): the decision for a row is a pure function
of its id, which also makes the DuckDB oracle reproduce selections
bit-for-bit.

Scale notes (100 TB): hash sampling is a stateless filter — no shuffle at
all, fully pushed into the scan stage. Packing shards the corpus by hash
first, then runs the running-sum window WITHIN each shard — a global
unpartitioned window would serialize the corpus through one task; per-shard
windows keep every executor busy and each bin id is (shard, local_bin), the
same layout a per-worker packer would produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import portable_hash60

# NULL ids must hash DETERMINISTICALLY (all NULL-id rows share one hash and
# keep or drop together per rate), not silently vanish from every sample:
# hash(NULL) is NULL, NULL < rate is NULL, and a NULL filter condition drops
# the row (resample_locf guards NULL keys for the same reason). Oracles
# mirror the same sentinel. Collision with a real string id literally equal
# to '<<null>>' is accepted and documented.
NULL_ID_SENTINEL = "<<null>>"


def _id_str(id_col: str):
    return F.coalesce(F.col(id_col).cast("string"), F.lit(NULL_ID_SENTINEL))


def hash_sample(df: DataFrame, id_col: str, rate_pct: int, *, salt: str = "sample") -> DataFrame:
    """Keep ~rate_pct% of rows, chosen by ``portable_hash60(salt || id) %
    100 < rate_pct``. Deterministic, engine-portable, and stable under
    re-partitioning; different salts give independent samples."""
    if not 0 <= rate_pct <= 100:
        raise ValueError(f"rate_pct must be 0..100, got {rate_pct}")
    h = portable_hash60(F.concat(F.lit(salt + "_"), _id_str(id_col)))
    return df.filter(F.pmod(h, F.lit(100)) < rate_pct)


def stratified_hash_sample(df: DataFrame, id_col: str, stratum_col: str,
                           rates_pct: dict[str, int], *, default_pct: int = 0,
                           salt: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling ("mix sources at different rates"):
    each stratum value keeps its own percentage, unlisted strata keep
    ``default_pct``. One stateless filter — no shuffle, no collect."""
    h = F.pmod(portable_hash60(
        F.concat(F.lit(salt + "_"), _id_str(id_col))), F.lit(100))
    rate = F.lit(default_pct)
    for value, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(h < rate)


def hash_split(df: DataFrame, id_col: str, splits: dict[str, int],
               *, salt: str = "split") -> DataFrame:
    """Deterministic disjoint dataset split ("90/5/5 train/val/test"):
    ``splits`` maps name → percentage (must sum to 100); a row lands in the
    split whose cumulative [lo, hi) bucket contains
    ``portable_hash60(salt || id) % 100``. Splits are disjoint and
    exhaustive BY CONSTRUCTION (one hash, contiguous buckets — no row can
    land in two splits or none, unlike per-split Bernoulli draws), stable
    under re-partitioning and engine changes, and membership is decidable
    per row with zero shuffle — at 100 TB the split is a pushed-down filter,
    not a materialized assignment. Buckets are assigned in insertion order
    of ``splits``. Adds a ``split`` column."""
    if sum(splits.values()) != 100:
        raise ValueError(f"split percentages must sum to 100, got {splits}")
    h = F.pmod(portable_hash60(
        F.concat(F.lit(salt + "_"), _id_str(id_col))), F.lit(100))
    expr = F.lit(None).cast("string")
    lo = 0
    for name, pct in splits.items():
        expr = F.when((h >= lo) & (h < lo + pct), F.lit(name)).otherwise(expr)
        lo += pct
    return df.withColumn("split", expr)


def pack_by_token_budget(df: DataFrame, id_col: str, token_col: str,
                         budget: int, *, n_shards: int = 64) -> DataFrame:
    """Greedy sequence packing: assign documents to bins of ~``budget``
    tokens for LLM sample packing. Documents are sharded by hash(id), then
    packed in id order within each shard — bin id = (shard, local bin from
    the exclusive running token sum). Output adds ``shard``, ``bin_id``
    (globally unique = shard * large + local), and ``bin_offset`` (tokens
    before this doc in its bin)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    shard = F.pmod(portable_hash60(_id_str(id_col)), F.lit(n_shards))
    w = (Window.partitionBy("_shard").orderBy(F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum(F.col(token_col)).over(w), F.lit(0))
    local_bin = F.floor(cum / F.lit(budget))
    return (
        df.withColumn("_shard", shard)
        .withColumn("_cum", cum)
        .select(
            "*",
            F.col("_shard").alias("shard"),
            (F.col("_shard") * F.lit(1_000_000_000) + local_bin).alias("bin_id"),
            F.pmod(F.col("_cum"), F.lit(budget)).alias("bin_offset"),
        )
        .drop("_shard", "_cum")
    )


def temperature_mix(df: DataFrame, id_col: str, stratum_col: str, *,
                    temperature: float = 2.0, target_fraction: float = 0.5,
                    salt: str = "tmix") -> DataFrame:
    """Temperature-based source mixing (the T5/PaLM mixture rule): sample
    stratum s proportional to n_s^(1/T) — T>1 upweights small sources
    relative to their natural share — sized so the expected kept volume is
    ``target_fraction`` of the corpus: rate_s = min(1, f·N·w_s / (Σw·n_s)).

    Per-stratum weights are quantized (floor(n^(1/T)·2²⁰)) before the Σw
    aggregate so every derived rate is bit-identical across engines
    regardless of float summation order; each rate then becomes an integer
    parts-per-million threshold against the row's portable hash.

    Scale shape: stratum stats are a tiny two-level aggregate (|strata|
    rows) broadcast back over the corpus; the keep decision is a stateless
    per-row filter — no corpus shuffle at all."""
    inv = 1.0 / temperature
    counts = df.groupBy(F.col(stratum_col)).agg(F.count(F.lit(1)).alias("_n"))
    counts = counts.withColumn(
        "_wq", F.floor(F.pow(F.col("_n").cast("double"), F.lit(inv)) * F.lit(1048576)).cast("long"))
    tot = counts.agg(F.sum("_n").alias("_tot_n"), F.sum("_wq").alias("_tot_w"))
    rates = counts.join(F.broadcast(tot)).select(
        F.col(stratum_col).alias("_stratum"),
        F.floor(F.least(
            F.lit(1.0),
            F.lit(target_fraction) * F.col("_tot_n") * F.col("_wq") / F.col("_tot_w") / F.col("_n"),
        ) * F.lit(1_000_000)).cast("long").alias("_ppm"),
    )
    h = F.pmod(portable_hash60(
        F.concat(F.lit(salt + "_"), _id_str(id_col))), F.lit(1_000_000))
    # null-safe stratum equality: a NULL-source stratum is a real stratum
    # (its rows got counted above) — a plain equi-join would silently drop
    # every NULL-stratum row from the mix regardless of its rate; <=> is
    # hash-joinable, so the broadcast join shape is unchanged.
    return (
        df.join(F.broadcast(rates),
                on=F.col(stratum_col).eqNullSafe(F.col("_stratum")))
        .filter(h < F.col("_ppm"))
        .drop("_stratum", "_ppm")
    )


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, k: int,
                    *, salt: str = "wsample") -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    each row draws a deterministic uniform u from its hashed id and scores
    ln(u)/w; the top-k scores are the sample, giving inclusion probability
    proportional to weight — the quality-weighted corpus subsample, stable
    across engines and re-runs because u is a pure function of the id.

    Distributed shape: score is a per-row expression; top-k is a global
    TakeOrdered (no full sort materialized). Rows with non-positive weight
    are excluded (their limit score is -inf)."""
    u = (portable_hash60(F.concat(F.lit(salt + "_"), _id_str(id_col)))
         .cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    score = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_ws", F.round(score, 9))
        .orderBy(F.col("_ws").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_ws")
    )

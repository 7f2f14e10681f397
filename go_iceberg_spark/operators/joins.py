"""Join operators Spark lacks as single calls: as-of join and range join.

The reference has NO join machinery at all (its only join is the upsert
key-match, reference: table/update.go:384-390 — SURVEY §2.7); these are part
of the engine's north-star relational surface, implemented as compositions of
built-in DataFrame ops chosen for 100 TB behavior:

- as-of join: the naive formulation is an inequality join (quadratic blowup;
  Spark plans BroadcastNestedLoop). Instead we use the union + windowed
  last_value pattern: tag both sides, union, and carry the most recent right
  row forward within each key partition — ONE shuffle by key, no row
  explosion, scales linearly.
- range join: equality on a coarse time bucket (right intervals exploded to
  the buckets they overlap) turns the inequality join into an equi-join +
  residual filter — shuffle on (key, bucket) instead of a nested loop. Each
  matching pair appears exactly once because the left row's own bucket is
  unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the latest right row of
    the same key with ``right_ts <= left_ts`` (DuckDB/pandas ``merge_asof``
    semantics). Right columns come back suffixed; rows with no earlier right
    row keep NULLs. ``tolerance_seconds`` bounds match staleness (pandas
    merge_asof ``tolerance``): a match older than the bound degrades to NULLs
    — the feature-freshness contract of an online feature store."""
    right_cols = right_cols or [c for c in right.columns if c not in on and c != right_ts]

    # the carried payload is ONE struct (never null for right rows), so a
    # matched right row whose individual columns are NULL still shadows older
    # rows — last(ignorenulls) over per-column values would wrongly skip it.
    # the matched right ts rides along for the staleness check.
    payload = F.struct(*[F.col(c).alias(c) for c in right_cols],
                       F.col(right_ts).alias("_asof_rts"))
    payload_t = ("struct<"
                 + ", ".join(f"`{c}`: {right.schema[c].dataType.simpleString()}" for c in right_cols)
                 + f", `_asof_rts`: {right.schema[right_ts].dataType.simpleString()}>")

    lhs = left.select(
        *left.columns,
        F.lit(1).alias("_asof_side"),
        F.col(left_ts).alias("_asof_ts"),
        F.lit(None).cast(payload_t).alias("_asof_payload"),
    )
    rhs = right.select(
        *[F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
        F.lit(0).alias("_asof_side"),
        F.col(right_ts).alias("_asof_ts"),
        payload.alias("_asof_payload"),
    )

    u = lhs.unionByName(rhs)
    # right rows sort before left rows at equal ts so "<=" matches win
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_asof_ts").asc(), F.col("_asof_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_asof_payload", F.last(F.col("_asof_payload"), ignorenulls=True).over(w))
    out = u.filter(F.col("_asof_side") == 1)
    fresh = None
    if tolerance_seconds is not None:
        # NTZ has no direct long cast; via LTZ is value-preserving under the
        # engine's UTC session timezone
        def secs(c):
            return F.col(c).cast("timestamp").cast("long")

        fresh = (secs(left_ts) - secs("_asof_payload._asof_rts")) <= tolerance_seconds
    for c in right_cols:
        val = F.col(f"_asof_payload.{c}")
        out = out.withColumn(f"{c}{suffix}", F.when(fresh, val) if fresh is not None else val)
    return out.drop("_asof_side", "_asof_ts", "_asof_payload")


def range_join_days(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_lo: str,
    right_hi: str,
) -> DataFrame:
    """Equi-join on key + day bucket with residual range filter:
    pairs (l, r) with same key and ``r.lo <= l.ts <= r.hi``.

    The right side is exploded to one row per day its interval overlaps, so
    the join is a plain shuffled equi-join on (key, day) — no nested loop.
    Interval lengths bound the explosion factor (days per interval).

    Degenerate intervals are dropped BEFORE the explode: an inverted
    interval (lo > hi) matches nothing but would crash ``sequence`` with
    'Illegal sequence boundaries' — at corpus scale one bad row must not
    kill the job; NULL-bounded intervals likewise match nothing (the
    residual filter is three-valued) and are dropped with the same guard."""
    r = right.filter(F.to_date(right_lo) <= F.to_date(right_hi)).withColumn(
        "_bucket",
        F.explode(F.sequence(F.to_date(right_lo), F.to_date(right_hi), F.expr("interval 1 day"))),
    )
    l = left.withColumn("_bucket", F.to_date(left_ts))
    joined = l.join(r, on=[*on, "_bucket"], how="inner").filter(
        (F.col(left_ts) >= F.col(right_lo)) & (F.col(left_ts) <= F.col(right_hi))
    )
    return joined.drop("_bucket")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    salt_buckets: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for skew: the LEFT (big, skewed) side gets a
    deterministic salt derived from ``salt_source`` (any left column that
    varies within a join key — e.g. a line number or row id), and the RIGHT
    side is replicated ``salt_buckets`` times, so one hot key's rows spread
    over ``salt_buckets`` reducers instead of one straggler task.

    Results are identical to ``left.join(right, on, how)`` — salting only
    changes the shuffle distribution. AQE's skew-join split handles sort-merge
    skew automatically; explicit salting is for the cases AQE cannot split
    (aggregating joins, storage-partitioned inputs, streaming joins).
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"):
        # the replicated right side would emit each unmatched right row
        # salt_buckets times under right/full outer joins
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    if salt_source is None:
        salt_source = next((c for c in left.columns if c not in on), None)
    if salt_source is None:
        # key-only left side (same fallback as hot_key_isolated_join):
        # nothing to hash — spread rows round-robin by row id; the
        # salt never reaches the output so nondeterminism across runs is fine
        salt_expr = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    else:
        salt_expr = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_buckets))
    l = left.withColumn("_salt", salt_expr.cast("int"))
    r = right.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    return l.join(r, on=[*on, "_salt"], how=how).drop("_salt")


def hot_key_isolated_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    salt_buckets: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
    hot_keys: list | None = None,
    hot_factor: float = 16.0,
    max_hot_keys: int = 64,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Isolated salting — the production form of ``salted_join`` for 100 TB:
    instead of replicating the ENTIRE right side ``salt_buckets``x (full
    salting pays the replication tax on every key, hot or not), only rows of
    detected HOT keys are salted; everything else takes the plain equi-join.
    Results are identical to ``left.join(right, on, how)``.

    Hot keys come from ``hot_keys`` (an explicit list of key values — tuples
    for composite keys) or are detected when ``hot_keys`` is None: count keys
    on a sample of the left side (``sample_fraction``; None = exact counts),
    a key is hot when its count exceeds ``hot_factor`` x the mean, capped at
    the ``max_hot_keys`` heaviest. The driver collects at most
    ``max_hot_keys`` rows — a bounded, broadcast-sized list at any corpus
    size; the detection pass is one shuffle of (key, count) pairs, cheap
    next to the join it protects.

    Scale shape: hot rows join with the small replicated hot slice of the
    right side spread over ``salt_buckets`` reducers; cold rows join
    normally (AQE free to broadcast or SMJ); one union of disjoint row sets.
    NULL join keys ride the cold path (inner joins drop them, left joins
    keep them — plain-join semantics either way).

    ``salt_source`` must be HIGH-CARDINALITY among the hot rows — the salt
    is ``xxhash64(salt_source) % salt_buckets``, so a constant or
    low-cardinality column lands every hot row in one bucket and silently
    defeats the isolation. Auto-pick uses the first non-key
    column; when the left side has ONLY key columns it falls back to a
    per-row ``monotonically_increasing_id`` spread, which is always evenly
    distributed and never changes the result (the salt column is dropped
    before returning). An explicit ``salt_source`` not present on the left
    side raises ValueError."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"hot_key_isolated_join supports inner/left joins, not {how!r}")
    if hot_keys is None:
        sample = left.select(*on)
        if sample_fraction is not None:
            sample = sample.sample(fraction=sample_fraction, seed=7)
        # ONE detection collect, not two (mean, then top-k filter, over
        # the recomputed count table): union the global-mean row with
        # the overall top max_hot_keys rows. Thresholding client-side is
        # EQUIVALENT to filter-then-top-k because the predicate
        # (count > mean*factor) is monotone in the ordering key: any
        # survivor outside the overall top-k is outranked by k rows that
        # all survive too, so survivors-top-k == top-k ∩ survivors.
        #
        # The count table is EAGERLY localCheckpoint'ed before the union.
        # A lazy persist() read by BOTH union branches races: under AQE
        # sibling subtrees materialize concurrently from the coordinator
        # pool, so both branches can miss the still-empty cache and run the
        # corpus-wide groupBy twice inside the one job (the same race
        # dedup.py documents for the minhash signature self-join; the
        # driver bench measured that shape 25% SLOWER than two separate
        # actions). The checkpoint
        # materializes the distinct-keys-sized count table exactly once
        # (executor-local blocks, freed by GC); both branches then read
        # blocks, not lineage.
        cnt = sample.groupBy(*on).count().localCheckpoint(eager=True)
        top = (cnt.orderBy(F.desc("count")).limit(max_hot_keys)
               .withColumn("_mean", F.lit(None).cast("double")))
        mean_row = (cnt.agg(F.avg("count").alias("_mean"))
                    .select(*[F.lit(None).cast(cnt.schema[c].dataType).alias(c)
                              for c in on],
                            F.lit(None).cast("long").alias("count"), "_mean"))
        rows = top.unionByName(mean_row).collect()
        # the mean row is the single row with a NULL count (count(*) >= 1
        # on every real group, NULL-keyed groups included)
        mean = next(r["_mean"] for r in rows if r["count"] is None)
        if mean is None:
            return left.join(right, on, how)
        thr = float(mean) * hot_factor
        hot_keys = [tuple(r[c] for c in on) for r in rows
                    if r["count"] is not None and r["count"] > thr]
    else:
        hot_keys = [k if isinstance(k, tuple) else (k,) for k in hot_keys]
    if not hot_keys:
        return left.join(right, on, how)

    def is_hot(df: DataFrame):
        if len(on) == 1:
            return F.col(on[0]).isin([k[0] for k in hot_keys])
        import functools

        conds = [functools.reduce(lambda a, b: a & b,
                                  [F.col(c) == F.lit(v) for c, v in zip(on, k)])
                 for k in hot_keys]
        return functools.reduce(lambda a, b: a | b, conds)

    l_hot_cond = F.coalesce(is_hot(left), F.lit(False))
    if salt_source is not None and salt_source not in left.columns:
        raise ValueError(
            f"salt_source {salt_source!r} is not a column of the left side "
            f"(columns: {left.columns}); pick a high-cardinality non-key column")
    if salt_source is None:
        salt_source = next((c for c in left.columns if c not in on), None)
    if salt_source is None:
        # key-only left side: nothing to hash for a salt — spread hot rows
        # round-robin by row id instead (even by construction; the salt
        # never reaches the output, so nondeterminism across runs is fine)
        salt_expr = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    else:
        salt_expr = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_buckets))
    l_hot = (left.filter(l_hot_cond)
             .withColumn("_salt", salt_expr.cast("int")))
    l_cold = left.filter(~l_hot_cond)
    r_hot = (right.filter(F.coalesce(is_hot(right), F.lit(False)))
             .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))))
    hot_joined = l_hot.join(r_hot, on=[*on, "_salt"], how=how).drop("_salt")
    cold_joined = l_cold.join(right, on=on, how=how)
    return hot_joined.unionByName(cold_joined)


def fuzzy_match_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_dist: int = 1,
    block_len: int = 16,
) -> DataFrame:
    """Entity-resolution fuzzy join: candidate pairs come from an EQUI-join
    on a fixed-length blocking prefix, then edit distance filters within the
    block — never an all-pairs cross join. The blocking key bounds each
    join group, so cost is sum(block_size_l x block_size_r), and the
    expensive levenshtein runs only inside blocks (JVM built-in, codegen).
    Names differing inside the first ``block_len`` chars will not match —
    the standard blocking trade-off; run multiple passes with different
    keys for higher recall. Output: left row + matched right value +
    ``dist``.

    The explode(array(levenshtein)) wrapper is a pushdown barrier (same
    pattern as the cosine pair streams): without it Catalyst pushes the
    ``dist <= max_dist`` filter into the hash-join condition, evaluating
    the O(len²) levenshtein TWICE per in-block pair — once in the condition
    and again for the output column. The Generate pipelines in the join
    stage, so pairs still filter before any downstream exchange."""
    lcols = list(left.columns)
    lb = F.substring(F.col(left_col), 1, block_len)
    rb = F.substring(F.col(right_col), 1, block_len)
    r = right.select(F.col(right_col).alias("_match"), rb.alias("_rb"))
    return (
        left.withColumn("_lb", lb)
        .join(r, F.col("_lb") == F.col("_rb"))
        .select(*lcols, "_match",
                F.explode(F.array(
                    F.levenshtein(F.col(left_col), F.col("_match")).cast("int"))).alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


def scd2_lookup(
    facts: DataFrame,
    history: DataFrame,
    on: list[str],
    *,
    seq_col: str,
    start_col: str = "valid_from_seq",
    end_col: str = "valid_to_seq",
    how: str = "left",
) -> DataFrame:
    """Point-in-time dimension lookup against an SCD2 history: each
    fact joins the version row whose validity interval
    ``[start_col, end_col)`` contains the fact's ``seq_col`` — the
    consumer side of ``Table.scd2_apply`` (reproducible training joins:
    the feature value AS OF the example's event, not today's).

    Intervals are disjoint per key by SCD2 construction, so every fact
    matches at most one version; facts before the key's first version (or
    with no key) come back with NULL dimension columns under
    ``how="left"``. Keys compare NULL-SAFELY — consistent with
    ``scd2_apply``'s null-safe merge keys, and deliberately unlike SQL
    ``=`` (a NULL fact key DOES find a NULL-keyed dimension history).
    Scale shape: an EQUI hash join on the keys with the
    interval test as a join filter — no range explosion, no extra
    shuffle beyond the join's own; the history side is usually the small
    one and broadcasts."""
    if how not in ("left", "inner"):
        raise ValueError(f"scd2_lookup supports left/inner, got {how!r}")
    f, h = facts.alias("_scd_f"), history.alias("_scd_h")
    key_eq = None
    for c in on:
        e = F.col(f"_scd_f.{c}").eqNullSafe(F.col(f"_scd_h.{c}"))
        key_eq = e if key_eq is None else key_eq & e
    seq = F.col(f"_scd_f.{seq_col}")
    in_interval = (
        (seq >= F.col(f"_scd_h.{start_col}"))
        & (F.col(f"_scd_h.{end_col}").isNull()
           | (seq < F.col(f"_scd_h.{end_col}")))
    )
    dim_cols = [c for c in history.columns if c not in on]
    return (f.join(h, key_eq & in_interval, how)
            .select(*[F.col(f"_scd_f.{c}") for c in facts.columns],
                    *[F.col(f"_scd_h.{c}").alias(c) for c in dim_cols]))


_BLOOM_MIN_BITS = 1 << 17  # 16 KB of words — below any plan-bloat concern
_BLOOM_MAX_BITS = 1 << 26  # 8 MB of words — broadcast-variable territory
_BLOOM_BITS_PER_KEY = 16   # 4 hashes: FP ~ (1-e^(-4/16))^4 ~ 0.24%
_BLOOM_LITERAL_MAX_WORDS = 2048  # above this, ship via broadcast join, not a plan literal
_BLOOM_COLLECT_MAX_KEYS = 1 << 16  # single-pass build budget: 64k hashes = 512 KB


def _bloom_shifts(n_bits: int) -> tuple[int, ...]:
    """Four evenly-spaced bit-window offsets for a 64-bit hash: each window
    must carry log2(n_bits) meaningful bits, so the last shift is 64-b —
    a FIXED shift set (the old (0,16,32,47)) would leave windows 2-4
    reading only 17 bits once n_bits grows past 2^17, collapsing the four
    probes into correlated ones."""
    b = n_bits.bit_length() - 1
    hi = 64 - b
    return (0, round(hi / 3), round(2 * hi / 3), hi)


def bloom_size_bits(n_keys: int) -> int:
    """Power-of-two sizing for a 4-hash bloom over ``n_keys`` build keys:
    ~16 bits/key holds the false-positive rate near 0.24%, floored at
    2^17 (sizing below that saves nothing) and capped at 2^26 (8 MB of
    words; at the cap 10^7 keys still see ~5% FP — past that, a bloom
    prefilter stops paying and the plain shuffle join is the answer)."""
    want = max(_BLOOM_MIN_BITS, _BLOOM_BITS_PER_KEY * max(n_keys, 1))
    return min(1 << (want - 1).bit_length(), _BLOOM_MAX_BITS)


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    n_bits: int | None = None,
) -> DataFrame:
    """The filter stage of ``bloom_prefilter_join``: returns ``big`` with
    rows that provably match no ``small`` key REMOVED (no false negatives
    — every surviving row may match; ~(1-e^(-4k/n_bits))^4 false-positive
    survivors). Exposed separately so pipelines can prefilter once and
    reuse, and so the shuffle-reduction is directly measurable.

    Mechanics: the build side explodes each key into 4 bit positions (ONE
    codegen'd xxhash64 per key — the bitmap is engine-internal and never
    needs cross-engine reproducibility, so the cheap hash wins over the
    portable md5 — with four shifted log2(n_bits)-bit windows),
    bit_or-aggregates them into <= n_bits/64 words. ``n_bits=None``
    (default) AUTO-SIZES from a distinct-count of the build keys via
    ``bloom_size_bits`` — a fixed 2^17 is right for ~10^4 keys and
    saturates uselessly at 10^6. The sizing count is
    ``approx_count_distinct``: a single partial-aggregated pass on
    the SMALL side with a one-row exchange, instead of distinct().count()
    which shuffled every distinct key just to size a power-of-two bitmap
    (guide §2.3 — the ±2% HLL error is absorbed by the power-of-two
    rounding and only moves the FP rate, never correctness: blooms have
    no false negatives at ANY size).
    The words ride into the probe side as a plan literal while small
    (<= 16 KB) and as a ONE-ROW broadcast-joined frame above that — a
    2^26-bit filter as a literal would bloat every plan copy and the UI;
    as a broadcast it ships once per executor. The probe test is 1
    xxhash64 + 4 element_at/shift ops per row, all inside whole-stage
    codegen, below the join."""
    # one canonical string key: build and probe sides must hash IDENTICAL
    # bytes even when column types differ across frames (int vs bigint)
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in on])
    build = small.na.drop(subset=on)
    hashes = None
    if n_bits is None:
        # Single-pass build for small key sets (guide §3.2; sizing and
        # aggregating separately would scan the build side twice before
        # the join even ran): collect the
        # DISTINCT xxhash64 values themselves while they fit in a bounded
        # budget (<= 2^16 hashes = 512 KB — the same driver-boundedness
        # contract as the bitmap collect below) and assemble the bitmap
        # in Python with the identical bit arithmetic. Past the budget,
        # fall back to approx-sizing + JVM bit_or aggregation (the
        # 100 TB build side takes that path; its collect stays
        # <= n_bits/64 words whatever the data size).
        hrows = (build.select(F.xxhash64(key).alias("_h")).distinct()
                 .limit(_BLOOM_COLLECT_MAX_KEYS + 1).collect())
        if len(hrows) <= _BLOOM_COLLECT_MAX_KEYS:
            hashes = [r["_h"] for r in hrows]
            n_bits = bloom_size_bits(len(hashes))
        else:
            hrows = None
            n_bits = bloom_size_bits(
                build.agg(F.approx_count_distinct(key).alias("n")).first()["n"])
    if n_bits & (n_bits - 1):
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    shifts = _bloom_shifts(n_bits)

    def positions(k):
        h = F.xxhash64(k)
        return [F.pmod(F.shiftrightunsigned(h, s), F.lit(n_bits))
                for s in shifts]

    n_words = n_bits // 64
    arr = [0] * n_words
    if hashes is not None:
        # same ops as the JVM path: unsigned >> shift, % n_bits, set bit
        for h in hashes:
            u = h & 0xFFFFFFFFFFFFFFFF
            for s in shifts:
                p = (u >> s) % n_bits
                arr[p // 64] |= 1 << (p % 64)
        # words are SIGNED longs on the wire (bit 63 = sign)
        arr = [w - (1 << 64) if w >= (1 << 63) else w for w in arr]
    else:
        words = (build.select(F.explode(F.array(*positions(key))).alias("_p"))
                 .select((F.col("_p") / 64).cast("long").alias("_w"),
                         F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_b"))
                 .groupBy("_w").agg(F.expr("bit_or(_b)").alias("_bits"))
                 .collect())  # bounded: <= n_bits/64 rows, independent of data
        for r in words:
            arr[int(r["_w"])] = r["_bits"]

    # temp names derived AWAY from the probe frame's columns: withColumn
    # REPLACES same-named columns, so fixed names would silently drop a
    # user column that happened to be called _bf_h
    taken = set(big.columns)

    def uniq(base: str) -> str:
        name = base
        while name in taken:
            name = "_" + name
        taken.add(name)
        return name

    if n_words <= _BLOOM_LITERAL_MAX_WORDS:
        # ONE parsed SQL literal, not F.lit(list): PySpark's F.lit on a
        # Python list issues one py4j call per element — measured 1.3-2.4 s
        # of driver round-trips for 2048 words vs ~5 ms for a single
        # F.expr parse (the array constant-folds to the identical
        # Literal either way, so the plan and results are unchanged)
        probe, bitmap = big, F.expr(
            "array(" + ",".join(f"{w}L" for w in arr) + ")")
    else:
        bm_col = uniq("_bf_bitmap")
        bm_df = big.sparkSession.createDataFrame(
            [(arr,)], f"{bm_col} array<long>")
        # one-row broadcast nested-loop join: the words column rides to
        # every probe partition once, never serialized into the plan tree
        probe, bitmap = big.crossJoin(F.broadcast(bm_df)), F.col(bm_col)

    # THREE batched plan nodes (hash select -> positions select -> filter)
    # instead of 9 chained withColumns: every withColumn re-analyzes
    # the growing plan, and with a 2048-element bitmap array in the tree
    # each pass re-visits those child literals — measured ~0.5 s of pure
    # driver analysis per invocation at the minimum bitmap size
    hcol = uniq("_bf_h")
    probe = probe.select("*", F.xxhash64(key).alias(hcol))
    tmp = [hcol] + ([bm_col] if n_words > _BLOOM_LITERAL_MAX_WORDS else [])
    pcols = []
    pos_exprs = []
    for i, s in enumerate(shifts):
        p = uniq(f"_bf_p{i}")
        pcols.append(p)
        pos_exprs.append(
            F.pmod(F.shiftrightunsigned(hcol, s), F.lit(n_bits)).alias(p))
    probe = probe.select("*", *pos_exprs)
    wcols = [uniq(f"_bf_w{i}") for i in range(len(pcols))]
    probe = probe.select("*", *[
        F.element_at(bitmap, (F.col(p) / 64).cast("int") + 1).alias(w)
        for p, w in zip(pcols, wcols)])
    keep = None
    for p, w in zip(pcols, wcols):
        # shiftright needs a column-valued amount -> SQL form (the Python
        # F.shiftright only takes a literal shift)
        t_ = F.expr(f"(shiftright({w}, CAST({p} % 64 AS INT)) & 1) = 1")
        keep = t_ if keep is None else keep & t_
    return probe.filter(keep).drop(*tmp, *pcols, *wcols)


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    n_bits: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join with a BLOOM PREFILTER on the probe side: the small
    side's join keys aggregate into one n_bits bitmap and the big side
    tests membership with pure codegen'd expressions, dropping
    provably-unmatched rows BEFORE the join shuffle (see
    ``bloom_prefilter``). Blooms have no false negatives, so the result
    is EXACTLY the plain join — what changes is that at 100 TB the
    shuffle carries only rows that can match (the hand-rolled form of
    Spark's runtime bloom filter injection, here available to any join
    shape and any build side, not just selective-filter shuffle joins).
    The trade: one extra job builds the bitmap and every probe row pays
    one more hash, in exchange for fewer rows entering the join shuffle.
    On local[N] with in-memory shuffles that costs more wall time than it
    saves; the saved shuffle bytes are what pays at scale, where
    shuffle write, read and network dominate. ``how`` supports
    inner/left_semi (shapes where a dropped probe row provably cannot
    appear in the output)."""
    if how not in ("inner", "left_semi"):
        raise ValueError(f"bloom prefilter is valid for inner/left_semi joins, got {how!r}")
    return bloom_prefilter(big, small, on, n_bits=n_bits).join(small, on, how)

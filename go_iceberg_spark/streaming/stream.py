"""Structured Streaming on the engine's tables.

The reference has NO streaming surface (SURVEY §2.7); this module supplies the
Spark-native one the north-star engine needs:

- ``read_stream``: file-based streaming source over an append-only table's
  data directory (new data files are discovered as they are appended — the
  same mechanism Spark's file source uses; exactly-once per file);
- ``append_stream`` / ``write_stream``: foreachBatch sink that commits each
  micro-batch as one table snapshot — giving the streaming write path the
  same snapshot isolation + optimistic commit as batch writes;
- ``windowed_counts`` / ``sessionize``: watermarked event-time aggregation
  helpers (tumbling + session windows) matching the batch operators in
  workload.py;
- ``StatefulRunningMax``: an applyInPandasWithState custom stateful operator
  template (per-key running aggregate with timeout handling).

Scale notes: the source lists only NEW files per micro-batch (Spark maintains
the seen-file log in the checkpoint); the sink's snapshot commit is
metadata-only per batch, so end-to-end cost is the batch's own shuffle work.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..table.metadata import ancestors
from ..table.table import Table
from ..table.write import data_path


def read_stream(spark: SparkSession, table: Table) -> DataFrame:
    """Streaming read of an APPEND-ONLY table's data files as they appear.

    Uses Spark's file streaming source rooted at the table's data directory
    (under ``write.data.path`` when the table sets it) with the table's
    current Spark schema. Each new file is read exactly once (file-log
    semantics), so the contract holds for append-only tables only: a
    copy-on-write delete or update writes the surviving rows into new
    files, and the stream delivers them again. For a stream of committed
    snapshots that refuses or skips such commits, use
    ``source.read_snapshot_stream``."""
    root = data_path(table.metadata.properties) or table.location
    data_dir = os.path.join(root, "data")
    os.makedirs(data_dir, exist_ok=True)
    return (
        spark.readStream.schema(table.spark_schema())
        .option("recursiveFileLookup", "true")
        .parquet(data_dir)
    )


BATCH_MARKER_KEY = "streaming-batch"
HIGH_WATER_PROP = "streaming.batch-high-water."  # + ckpt_id -> max batch_id
# sequence number of the commit that established the high-water mark (stamped
# atomically via COMMIT_SEQ_PLACEHOLDER): lets rollback_to prove whether the
# mark's batch data survives a rollback even after its marker snapshot expired
HIGH_WATER_SEQ_PROP = "streaming.batch-high-water-seq."  # + ckpt_id -> seq


def _batch_already_committed(table: Table, ckpt_id: str, batch_id: int) -> bool:
    """A replayed batch is detected by EITHER signal: the per-checkpoint
    high-water property (survives snapshot expiry: an expire_snapshots
    between crash and restart can remove the marker snapshot, and the
    replay would then double-apply), or the (ckpt, batch) marker
    in a snapshot summary ON THE CURRENT LINEAGE (covers tables whose
    properties were hand-edited; abandoned rollback branches don't count —
    their batches are no longer in the table state). Batch ids are
    monotonic per Structured Streaming query, so the high-water comparison
    is exact for the only replay Spark does (the last uncommitted batch).
    ``rollback_to`` rebases the high-water properties so a batch undone by
    a rollback replays, while expired-but-applied batches stay deduped
    (``rebased_stream_high_water``)."""
    hw = table.metadata.properties.get(HIGH_WATER_PROP + ckpt_id)
    if hw is not None and batch_id <= int(hw):
        return True
    marker = f"{ckpt_id}:{batch_id}"
    md = table.metadata
    return any(s.summary.get(BATCH_MARKER_KEY) == marker
               for s in ancestors(md, md.current_snapshot_id))


def rebased_stream_high_water(md, new_head_id: int) -> dict[str, str]:
    """Properties dict with the streaming high-water marks re-expressed for
    a rollback that moves main to ``new_head_id``.

    A rollback abandons the marker snapshots above the target, so their
    batches are NO LONGER applied and must be allowed to replay: for each
    checkpoint with abandoned markers, the high water drops to just below
    the smallest abandoned batch id (batch ids are commit-ordered, so
    everything at or above the smallest abandoned batch is abandoned too).
    Markers still on (or re-entering, for a roll-forward) the target's
    ancestry raise the mark back up.

    A checkpoint whose marker snapshots were EXPIRED has no per-batch
    evidence; the mark's own commit sequence (``HIGH_WATER_SEQ_PROP``,
    stamped atomically with every sink commit) decides: if it is at or
    below the target's sequence, the mark's data survives the rollback and
    the mark keeps; if it is ABOVE, the rollback undoes that batch's data
    even though its marker snapshot is gone (e.g. rollback to a tag-
    retained snapshot across an expired gap), so keeping the mark would
    permanently dedupe a legitimately replayable batch — silent stream
    data loss. The mark drops to what retained in-ancestry markers prove
    (or is removed). A mark without its seq property keeps the
    expired ⇒ applied rule."""
    props = dict(md.properties)
    chain = ancestors(md, new_head_id)
    anc = {s.snapshot_id for s in chain}
    target_seq = chain[0].sequence_number if chain else 0
    in_anc: dict[str, list[tuple[int, int]]] = {}  # ckpt -> [(batch, seq)]
    abandoned: dict[str, list[int]] = {}
    for s in md.snapshots:
        m = s.summary.get(BATCH_MARKER_KEY)
        if not m:
            continue
        ckpt, _, b = m.rpartition(":")
        if s.snapshot_id in anc:
            in_anc.setdefault(ckpt, []).append((int(b), s.sequence_number))
        else:
            abandoned.setdefault(ckpt, []).append(int(b))
    # property-only checkpoints (all markers expired) must be re-examined
    # too: no marker snapshot names them
    prop_ckpts = {k[len(HIGH_WATER_PROP):] for k in props if k.startswith(HIGH_WATER_PROP)}
    for ckpt in set(in_anc) | set(abandoned) | prop_ckpts:
        key = HIGH_WATER_PROP + ckpt
        skey = HIGH_WATER_SEQ_PROP + ckpt
        cur = int(props.get(key, -1))
        ia_pairs = in_anc.get(ckpt, [])
        ia = max((b for b, _ in ia_pairs), default=-1)
        if ckpt in abandoned:
            new = max(ia, min(abandoned[ckpt]) - 1)
        else:
            hw_seq = props.get(skey)
            if hw_seq is not None and int(hw_seq) > target_seq:
                new = ia  # mark's commit is above the target: batch undone
            else:
                new = max(cur, ia)
        if new < 0:
            props.pop(key, None)
            props.pop(skey, None)
            continue
        props[key] = str(new)
        if ia_pairs and new == ia:
            # exact: the retained marker snapshot that establishes the mark
            props[skey] = str(max(s for b, s in ia_pairs if b == ia))
        elif new != cur or (props.get(skey) and int(props[skey]) > target_seq):
            # derived from abandonment evidence (or clamped after a drop):
            # the mark's data is within the target's ancestry, so its commit
            # is at or below the target — a conservative upper bound that a
            # deeper future rollback will re-examine
            props[skey] = str(min(int(props.get(skey, target_seq)), target_seq))
    return props


def append_batch_exactly_once(table: Table, batch_df: DataFrame,
                              ckpt_id: str, batch_id: int) -> bool:
    """Idempotent micro-batch append: the (checkpoint, batch_id) marker is
    written into the snapshot SUMMARY and the checkpoint's high-water mark
    into table PROPERTIES — both atomic with the commit — and a replayed
    batch (restart after the table committed but before the checkpoint
    recorded it) finds either and skips. Returns True if this call
    appended. The check ALSO re-runs inside the commit's conflict-retry
    closure (after metadata reload): two writers racing the same replayed
    (ckpt, batch) can otherwise both pass the entry check and both apply
    it — the loser's retry now sees the winner's marker and backs off."""
    from ..table.table import COMMIT_SEQ_PLACEHOLDER

    table.refresh()
    if _batch_already_committed(table, ckpt_id, batch_id):
        return False
    snap = table.append(
        batch_df,
        summary_extra={BATCH_MARKER_KEY: f"{ckpt_id}:{batch_id}"},
        properties_extra={HIGH_WATER_PROP + ckpt_id: str(batch_id),
                          HIGH_WATER_SEQ_PROP + ckpt_id: COMMIT_SEQ_PLACEHOLDER},
        pre_commit_check=lambda: not _batch_already_committed(table, ckpt_id, batch_id),
    )
    return snap is not None


def append_stream(df: DataFrame, table: Table, checkpoint_dir: str, *,
                  trigger_once: bool = False, processing_time: str | None = None):
    """Write a streaming DataFrame into the table: each micro-batch becomes
    one ``append`` snapshot. Exactly-once per batch: the checkpoint dedups
    delivered batches, and the (checkpoint, batch) marker in the snapshot
    summary dedups the REPLAYED last batch after a crash between table
    commit and checkpoint write."""
    import hashlib as _hl

    ckpt_id = _hl.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch_exactly_once(table, batch_df, ckpt_id, batch_id)

    w = df.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def dedup_stream(df: DataFrame, table: Table, checkpoint_dir: str, keys: list[str], *,
                 event_time_col: str | None = None,
                 watermark_delay: str = "10 minutes",
                 trigger_once: bool = False, processing_time: str | None = None):
    """Streaming cross-batch DEDUPLICATION sink: re-observed keys are
    filtered by the streaming state store — no table read per batch — and
    surviving first-seen rows append exactly-once (same checkpoint +
    snapshot-marker scheme as ``append_stream``). This is the streaming
    twin of the batch ``dedup_exact`` operator: the ingestion-time dedup a
    training-data pipeline runs on a document firehose.

    State story at 100 TB: with ``event_time_col`` the watermark BOUNDS the
    state (``dropDuplicatesWithinWatermark`` — a key's dedup entry ages out
    once the watermark passes it, so state is proportional to the key
    arrival rate times the delay window, not the stream's lifetime). The
    unbounded form (no event time) keeps one state row per distinct key —
    exact global dedup, valid when key cardinality is bounded (entity ids),
    wrong for an open-ended stream; callers choose explicitly."""
    import hashlib as _hl

    ckpt_id = _hl.md5(checkpoint_dir.encode()).hexdigest()[:12]
    if event_time_col is not None:
        dd = (df.withWatermark(event_time_col, watermark_delay)
              .dropDuplicatesWithinWatermark(keys))
    else:
        dd = df.dropDuplicates(keys)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch_exactly_once(table, batch_df, ckpt_id, batch_id)

    w = dd.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def scd2_stream(df: DataFrame, table: Table, checkpoint_dir: str, keys: list[str], *,
                seq_col: str, drop_unchanged: bool = False,
                trigger_once: bool = False, processing_time: str | None = None):
    """Streaming SCD TYPE-2 sink: each micro-batch of versioned
    updates applies through ``scd2_apply`` — one merge snapshot per batch,
    versions chained within the batch, the key's open row closed at the
    batch's first new sequence. Exactly-once leans on TWO layers: the
    checkpoint dedups delivered batches, and ``scd2_apply`` itself no-ops
    on a replayed batch by construction (replayed inserts match their own
    rows, replayed closes filter to genuinely-newer sequences) — so unlike
    the additive agg sink, correctness here does not hinge on the marker.
    Contract inherited from scd2_apply: sequences unique per key within a
    batch and non-decreasing across batches (source ordering)."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.refresh()
        from ..table.mutate import scd2_apply

        scd2_apply(table, batch_df, keys, seq_col=seq_col,
                   drop_unchanged=drop_unchanged)

    w = df.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def upsert_stream(df: DataFrame, table: Table, checkpoint_dir: str, keys: list[str], *,
                  trigger_once: bool = False, processing_time: str | None = None):
    """Streaming UPSERT sink (CDC-style): each micro-batch MERGEs into the
    table on ``keys`` — matched rows update, new keys insert — producing one
    snapshot per batch. Within a batch, duplicate keys collapse to the
    last-seen row so the merge is deterministic. Exactly-once per batch: the
    checkpoint dedups delivered batches and the (checkpoint, batch) summary
    marker skips the replayed last batch after a crash (same scheme as
    ``append_stream``; a replayed MERGE is also semantically idempotent, so
    the marker only avoids a redundant snapshot)."""
    import hashlib as _hl

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ckpt_id = _hl.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..table.table import COMMIT_SEQ_PLACEHOLDER

        if batch_df.isEmpty():
            return
        table.refresh()
        if _batch_already_committed(table, ckpt_id, batch_id):
            return
        order = [c for c in batch_df.columns if c not in keys]
        if order:
            w = W.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order])
            latest = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn")
            )
        else:
            # key-only batch: every row of a key is identical — the window
            # form would crash on its empty ORDER BY
            latest = batch_df.dropDuplicates(keys)
        table.upsert(latest, keys,
                     summary_extra={BATCH_MARKER_KEY: f"{ckpt_id}:{batch_id}"},
                     properties_extra={HIGH_WATER_PROP + ckpt_id: str(batch_id),
                                       HIGH_WATER_SEQ_PROP + ckpt_id: COMMIT_SEQ_PLACEHOLDER},
                     # re-checked on every conflict retry after reload: a
                     # racing writer replaying the same batch backs off
                     pre_commit_check=lambda: not _batch_already_committed(
                         table, ckpt_id, batch_id))

    w = df.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def windowed_counts(events: DataFrame, ts_col: str, window: str = "1 hour",
                    watermark: str = "2 hours", keys: list[str] | None = None) -> DataFrame:
    """Watermarked tumbling-window aggregation — late rows beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    keys = keys or []
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )


def sessionize(events: DataFrame, ts_col: str, key: str, gap: str = "30 minutes",
               watermark: str = "2 hours") -> DataFrame:
    """Watermarked session windows (gap-based), the streaming twin of the
    batch session_window_30min query."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(key, F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_within_watermark(events: DataFrame, ts_col: str, keys: list[str],
                           delay: str = "1 hour") -> DataFrame:
    """Streaming dedup with BOUNDED state: keep the first arrival per key,
    but let the state for a key expire once the watermark passes its event
    time + ``delay``. The unbounded twin (plain ``dropDuplicates``) keeps
    every key ever seen — state grows forever in a real job; this variant's
    state is capped at (keys arriving within the watermark horizon).

    The trade: a duplicate arriving later than ``delay`` after the original
    is re-emitted (its state has been evicted). That is the standard
    training-pipeline contract — dedup within a time budget, exact dedup
    only in batch."""
    return (
        events.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
    )


# -- custom stateful operator (applyInPandasWithState) ----------------------

_STATE_SCHEMA = "max_value double, n long"
_OUT_SCHEMA = "user_id long, max_value double, n long"


def _running_max_fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
    """Per-key running max + count with state carried across micro-batches."""
    if state.hasTimedOut:
        mx, n = state.get
        state.remove()
        yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx], "n": [n]})
        return
    mx, n = state.get if state.exists else (float("-inf"), 0)
    for pdf in pdf_iter:
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
            n += len(pdf)
    state.update((mx, n))
    yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx], "n": [n]})


def running_max_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running max(value) via
    applyInPandasWithState (Arrow-batched, update-mode output)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_max_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def agg_view_stream(df: DataFrame, table: Table, checkpoint_dir: str,
                    group_keys: list[str], *,
                    count_col: str, sum_cols: dict[str, str] | None = None,
                    trigger_once: bool = False,
                    processing_time: str | None = None):
    """Streaming AGGREGATE-VIEW maintenance sink: each micro-batch
    reduces to per-group partials (count + sums) that MERGE into the view
    table ADDITIVELY — matched groups add the partials, new groups insert —
    one snapshot per batch. The streaming complement of
    ``incremental_agg_refresh_changelog``: the view stays a queryable,
    time-travelable engine table maintained at O(batch) cost, with Spark's
    own streaming aggregation state never involved (no state store to size,
    restore, or expire — the TABLE is the state).

    Exactly-once is LOAD-BEARING here, unlike the upsert sink: a replayed
    additive merge double-counts, so the (checkpoint, batch) summary
    marker, the expiry-proof high-water property, and the per-retry
    pre-commit recheck are what make replays safe — same scheme as
    ``append_stream``."""
    import hashlib as _hl

    ckpt_id = _hl.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        agg_view_commit_batch(table, ckpt_id, batch_df, batch_id, group_keys,
                              count_col=count_col, sum_cols=sum_cols)

    w = df.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def hll_view_stream(df: DataFrame, table: Table, checkpoint_dir: str,
                    group_keys: list[str], value_col: str, *, p: int = 9,
                    trigger_once: bool = False,
                    processing_time: str | None = None):
    """Streaming DISTINCT-COUNT view via HyperLogLog registers: each
    micro-batch's (group, bucket, register) rows MERGE into the view table
    by GREATEST — the table holds the live registers, and
    ``hll_view_estimate`` turns them into per-group distinct estimates at
    read time.

    The contrast with ``agg_view_stream`` is the exactly-once story:
    register max-merge is IDEMPOTENT by algebra (max(a, a) = a), so a
    replayed batch cannot corrupt the view — the batch marker here only
    saves wasted commits, it is not load-bearing. That algebraic
    replay-safety is why sketch-shaped state is the preferred form for
    at-least-once pipelines at 100 TB: correctness does not hinge on the
    dedup machinery. State is <= groups x 2^p rows whatever the stream
    volume; per-batch cost is one map-side-combined register build plus a
    touched-register MERGE."""
    import hashlib as _hl

    from ..operators.sketch import hll_registers

    ckpt_id = _hl.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..table.table import COMMIT_SEQ_PLACEHOLDER

        if batch_df.isEmpty():
            return
        table.refresh()
        if _batch_already_committed(table, ckpt_id, batch_id):
            return  # cost-saving only: a re-merge would be harmless
        regs = hll_registers(batch_df, group_keys, value_col, p=p)
        table.merge(
            regs, [*group_keys, "bucket"],
            when_matched_update={
                "register": F.greatest(F.col("t.register"), F.col("s.register")),
            },
            when_not_matched_insert=True,
            summary_extra={BATCH_MARKER_KEY: f"{ckpt_id}:{batch_id}"},
            properties_extra={HIGH_WATER_PROP + ckpt_id: str(batch_id),
                              HIGH_WATER_SEQ_PROP + ckpt_id: COMMIT_SEQ_PLACEHOLDER},
            pre_commit_check=lambda: not _batch_already_committed(
                table, ckpt_id, batch_id))

    w = df.writeStream.foreachBatch(commit_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def hll_view_estimate(view_df: DataFrame, group_keys: list[str], *,
                      p: int = 9) -> DataFrame:
    """Per-group distinct estimates from an HLL register view table
    (the read side of ``hll_view_stream``) — same exact-integer estimator
    as ``operators.sketch.hll_distinct``."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    A = alpha * m * m * float(1 << 52)
    per_group = (view_df.withColumnRenamed("register", "_m")
                 .groupBy(*group_keys).agg(
                     F.sum(F.expr("shiftleft(1L, 52 - _m)")).alias("_sum_present"),
                     F.count(F.lit(1)).alias("_present")))
    zeros = F.lit(m) - F.col("_present")
    total = F.col("_sum_present") + zeros * F.lit(1 << 52)
    e_raw = F.lit(A) / total.cast("double")
    est = F.when((e_raw <= F.lit(2.5 * m)) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
                 ).otherwise(e_raw)
    return per_group.select(*group_keys, F.round(est, 2).alias("n_estimate"))


def agg_view_commit_batch(table: Table, ckpt_id: str, batch_df: DataFrame,
                          batch_id: int, group_keys: list[str], *,
                          count_col: str,
                          sum_cols: dict[str, str] | None = None) -> bool:
    """The agg-view sink's per-batch commit path (module-level so the model
    fuzz walk can drive the REAL code with crash-replays). Returns True
    when the batch applied, False when the exactly-once check deduplicated
    it (marker snapshot, or — after that snapshot expired — the high-water
    property)."""
    from pyspark.sql import functions as F

    from ..table.table import COMMIT_SEQ_PLACEHOLDER

    sums = sum_cols or {}
    if batch_df.isEmpty():
        return False
    table.refresh()
    if _batch_already_committed(table, ckpt_id, batch_id):
        return False
    # partial sums coalesce to 0: an all-NULL batch for a group would
    # otherwise insert sum=NULL and NULL-poison every later addition
    # (same 0-identity rule as incremental_agg_refresh_changelog —
    # documented there: a group whose every input is NULL reports 0)
    partial = batch_df.groupBy(*group_keys).agg(
        F.count(F.lit(1)).alias(count_col),
        *(F.coalesce(F.sum(src), F.lit(0)).alias(out)
          for out, src in sums.items()))
    table.merge(
        partial, group_keys,
        when_matched_update={
            count_col: F.col(f"t.{count_col}") + F.col(f"s.{count_col}"),
            **{out: F.col(f"t.{out}") + F.col(f"s.{out}") for out in sums},
        },
        when_not_matched_insert=True,
        summary_extra={BATCH_MARKER_KEY: f"{ckpt_id}:{batch_id}"},
        properties_extra={HIGH_WATER_PROP + ckpt_id: str(batch_id),
                          HIGH_WATER_SEQ_PROP + ckpt_id: COMMIT_SEQ_PLACEHOLDER},
        pre_commit_check=lambda: not _batch_already_committed(
            table, ckpt_id, batch_id))
    return True

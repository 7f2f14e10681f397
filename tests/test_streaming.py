"""Structured Streaming tests: table source → watermarked aggregation →
snapshot-committing sink, plus the custom stateful operator."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from go_iceberg_spark.schema import from_spark_schema
from go_iceberg_spark.streaming import stream as ST


def events_df(spark, n=200, offset=0):
    return spark.range(offset, offset + n).selectExpr(
        "id AS event_id",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,CAST(id * 7 AS INT),0) AS ts",
        "id % 5 AS user_id",
        "CAST(id % 97 AS DOUBLE) AS value",
    )


@pytest.fixture()
def events_table(spark, catalog):
    df = events_df(spark)
    t = catalog.create_table("db", "events_stream", from_spark_schema(df.schema))
    t.append(df)
    return t


def test_stream_read_windowed_append(spark, catalog, events_table, tmp_path):
    """End-to-end: stream the events table → tumbling window counts →
    append each micro-batch as a snapshot of a results table."""
    src = ST.read_stream(spark, events_table)
    agg = ST.windowed_counts(src, "ts", window="1 hour", watermark="2 hours")

    out_schema = from_spark_schema(agg.schema)
    out = catalog.create_table("db", "hourly_counts", out_schema)

    q = ST.append_stream(agg.withColumn("n_events", F.col("n_events")), out,
                         str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)

    out.refresh()
    rows = {r.window_start.isoformat(): r.n_events for r in out.to_df().collect()}
    # batch oracle over the same data; append-mode only FINALIZES windows whose
    # end is at or before (max event time - watermark), so restrict to those
    batch = (
        events_table.to_df()
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    import datetime as dt

    max_ts = events_table.to_df().agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - dt.timedelta(hours=2)
    expected = {r.s.isoformat(): r.n for r in batch.collect() if r.e <= cutoff}
    assert rows == expected and len(rows) > 0
    assert out.current_snapshot().operation == "append"


def test_stream_incremental_batches(spark, catalog, events_table, tmp_path):
    """New files appended to the source table are picked up by the next
    trigger exactly once."""
    src = ST.read_stream(spark, events_table)
    out = catalog.create_table("db", "raw_copy", from_spark_schema(src.schema))
    ckpt = str(tmp_path / "ckpt2")

    q = ST.append_stream(src, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    assert out.refresh().scan().count() == 200

    events_table.append(events_df(spark, 50, offset=1000))
    q = ST.append_stream(ST.read_stream(spark, events_table), out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    assert out.refresh().scan().count() == 250  # only the 50 new rows added


def test_read_stream_follows_write_data_path(spark, catalog, tmp_path):
    """A table whose data lives under ``write.data.path`` streams all its
    rows: the file source watches that root's data directory."""
    df = events_df(spark, 100)
    t = catalog.create_table("db", "events_dp", from_spark_schema(df.schema),
                             properties={"write.data.path": str(tmp_path / "data_root")})
    t.append(df)
    src = ST.read_stream(spark, t)
    out = catalog.create_table("db", "events_dp_copy", from_spark_schema(src.schema))
    q = ST.append_stream(src, out, str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    assert out.refresh().scan().count() == 100


def test_sessionize_stream(spark, events_table, tmp_path):
    src = ST.read_stream(spark, events_table)
    sess = ST.sessionize(src, "ts", "user_id", gap="30 minutes")
    q = (
        sess.writeStream.format("memory").queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM sessions").collect()[0].n
    batch = (
        events_table.to_df()
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count().count()
    )
    assert got == batch > 0


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark must EVICT state for keys whose event
    time + delay has fallen behind the watermark — the bounded-state fix for
    plain dropDuplicates (which keeps every key forever). Three micro-batches
    hours apart: by the last batch, batch-1 key state (expiry 01:00) is far
    behind the watermark (12:00), so the final state row count must be the
    recent keys only, not all keys ever seen."""
    src_dir = tmp_path / "wm_src"
    src_dir.mkdir()

    def write_batch(name, lo, n, ts):
        spark.range(lo, lo + n).selectExpr(
            "id AS user_id", f"timestamp'{ts}' AS ts", "'click' AS event_type"
        ).coalesce(1).write.parquet(str(src_dir / name))

    write_batch("b1", 0, 30, "2024-01-01 00:00:00")
    write_batch("b2", 100, 20, "2024-01-01 12:00:00")
    write_batch("b3", 200, 20, "2024-01-01 13:00:00")

    src = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src_dir) + "/*")
    )
    dedup = ST.dedup_within_watermark(src, "ts", ["user_id", "event_type"], delay="1 hour")
    q = (
        dedup.writeStream.format("memory").queryName("wm_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    # every key emitted exactly once (no duplicates within any batch)
    assert spark.sql("SELECT count(*) AS n FROM wm_dedup").collect()[0].n == 70

    state_totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (q.recentProgress or [])
        if p.get("stateOperators") and p["stateOperators"][0].get("numRowsTotal") is not None
    ]
    assert state_totals, "no state-operator metrics recorded"
    # bounded: batch-1's 30 keys evicted once the watermark passed their
    # expiry; unbounded dropDuplicates state would end at 70
    assert state_totals[-1] < 70, f"state not bounded: {state_totals}"
    assert max(state_totals) < 70, f"state never evicted: {state_totals}"


def test_windowed_agg_state_evicts_behind_watermark(spark, tmp_path):
    """Watermarked tumbling aggregation (append mode) must finalize and EVICT
    window state once the watermark passes window end — the bounded-state
    contract the 1M-event soak (scripts/streaming_soak.py) measures at
    volume. Three micro-batches hours apart: by the last batch the first
    batch's windows are far behind the watermark, so final state holds only
    the recent open windows, not every window ever seen."""
    from pyspark.sql import functions as F

    src_dir = tmp_path / "agg_src"
    src_dir.mkdir()

    def write_batch(name, lo, n, ts):
        spark.range(lo, lo + n).selectExpr(
            "id AS user_id", f"timestamp'{ts}' AS ts", "'click' AS event_type"
        ).coalesce(1).write.parquet(str(src_dir / name))

    write_batch("b1", 0, 30, "2024-01-01 00:10:00")
    write_batch("b2", 100, 20, "2024-01-01 12:10:00")
    write_batch("b3", 200, 20, "2024-01-01 13:10:00")

    src = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src_dir) + "/*")
    )
    agg = (
        src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory").queryName("agg_evict")
        .option("checkpointLocation", str(tmp_path / "ckpt_agg"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)

    state_totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (q.recentProgress or [])
        if p.get("stateOperators") and p["stateOperators"][0].get("numRowsTotal") is not None
    ]
    assert state_totals, "no state-operator metrics recorded"
    # 70 (user, window) groups total; bounded state means batch-1's 30 are
    # gone by the end and appear as FINALIZED rows in the append-mode sink
    assert state_totals[-1] < 70, f"state not bounded: {state_totals}"
    finalized = spark.sql("SELECT count(*) AS n FROM agg_evict").collect()[0].n
    assert finalized >= 30, f"closed windows never emitted: {finalized}"


def test_stateful_running_max(spark, events_table, tmp_path):
    src = ST.read_stream(spark, events_table).select("user_id", "value")
    out = ST.running_max_stream(src)
    q = (
        out.writeStream.format("memory").queryName("runmax")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.user_id: (r.max_value, r.n) for r in spark.sql("SELECT * FROM runmax").collect()}
    exp = {
        r.user_id: (r.mx, r.n)
        for r in events_table.to_df().groupBy("user_id").agg(F.max("value").alias("mx"), F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp


def test_upsert_stream_cdc(spark, catalog, events_table, tmp_path):
    """Streaming upsert sink: micro-batches MERGE on key — latest row per
    key wins, new keys insert, snapshot count grows one per batch."""
    target_proto = spark.createDataFrame([], "user_id long, value double")
    out = catalog.create_table("db", "user_latest", from_spark_schema(target_proto.schema))
    out.append(spark.createDataFrame([(0, -1.0), (99, -1.0)], "user_id long, value double"))

    src = ST.read_stream(spark, events_table).select("user_id", "value")
    q = ST.upsert_stream(src, out, str(tmp_path / "ckpt"), ["user_id"], trigger_once=True)
    q.awaitTermination(120)

    out.refresh()
    got = {r.user_id: r.value for r in out.to_df().collect()}
    # users 0-4 upserted to their max value (row_number desc over value),
    # untouched key 99 still present
    src_max = {
        r.user_id: r.mx
        for r in events_table.to_df().groupBy("user_id").agg(F.max("value").alias("mx")).collect()
    }
    assert got[99] == -1.0
    for uid, mx in src_max.items():
        assert got[uid] == mx
    # exactly-once: re-running with same checkpoint adds no snapshot
    n_snaps = len(out.snapshots())
    q = ST.upsert_stream(ST.read_stream(spark, events_table).select("user_id", "value"),
                         out, str(tmp_path / "ckpt"), ["user_id"], trigger_once=True)
    q.awaitTermination(120)
    out.refresh()
    assert len(out.snapshots()) == n_snaps


def test_append_batch_replay_is_exactly_once(spark, catalog):
    """A replayed micro-batch (same checkpoint + batch id) must not commit
    twice; the next batch id still appends."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.streaming.stream import append_batch_exactly_once

    df = spark.createDataFrame([Row(id=1, v=1.0)])
    t = catalog.create_table("db", "eo_sink", from_spark_schema(df.schema))
    assert append_batch_exactly_once(t, df, "ckptA", 0) is True
    assert t.to_df().count() == 1
    # crash-replay of batch 0: skipped
    assert append_batch_exactly_once(t, df, "ckptA", 0) is False
    assert t.to_df().count() == 1 and len(t.snapshots()) == 1
    # next batch appends; a DIFFERENT checkpoint's batch 0 is independent
    assert append_batch_exactly_once(t, df, "ckptA", 1) is True
    assert append_batch_exactly_once(t, df, "ckptB", 0) is True
    assert t.to_df().count() == 3


def test_batch_replay_skipped_after_marker_snapshot_expires(spark, catalog):
    """r6 probe BUG FIX: the exactly-once marker used to live ONLY in the
    snapshot summary — a maintenance expire_snapshots between a crash and
    the restart could remove the marker snapshot and let the replayed batch
    double-apply. The checkpoint's high-water mark now also rides table
    PROPERTIES, atomic with the commit, and survives expiry."""
    import time as _time

    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.streaming.stream import (
        HIGH_WATER_PROP,
        append_batch_exactly_once,
    )

    proto = spark.createDataFrame([Row(k=0, v=0.0)])
    t = catalog.create_table("db", "eo_expire", from_spark_schema(proto.schema))
    t.append(proto)
    b1 = spark.createDataFrame([Row(k=1, v=1.0), Row(k=2, v=2.0)])
    assert append_batch_exactly_once(t, b1, "ck", 1) is True
    assert t.metadata.properties[HIGH_WATER_PROP + "ck"] == "1"

    # compaction between micro-batches, then expiry drops the marker snapshot
    t.rewrite_data_files()
    t.expire_snapshots(older_than=int(_time.time() * 1000) + 10_000, retain_last=1)

    # crash-replay of batch 1 after the marker snapshot is gone: still skipped
    assert append_batch_exactly_once(t, b1, "ck", 1) is False
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2]
    # and the stream continues with the next batch
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=3, v=3.0)]), "ck", 2) is True
    assert t.metadata.properties[HIGH_WATER_PROP + "ck"] == "2"


def test_batch_replays_after_rollback_but_not_after_expire(spark, catalog):
    """r6 probe BUG FIX: rollback_to rebases the streaming high-water marks.
    A batch that committed and was then ROLLED BACK is no longer in the
    table state, so the crash-replay of that batch must APPLY (before, the
    high-water property and the all-snapshots marker scan both said
    "committed" and the batch was lost forever). Expired-but-applied
    batches keep deduping, and rolling FORWARD onto the original head
    restores the dedup for the batches it re-includes."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.streaming.stream import (
        HIGH_WATER_PROP,
        append_batch_exactly_once,
    )

    proto = spark.createDataFrame([Row(k=0, v=0.0)])
    t = catalog.create_table("db", "eo_rollback", from_spark_schema(proto.schema))
    t.append(proto)
    base = t.current_snapshot().snapshot_id

    b0 = spark.createDataFrame([Row(k=1, v=1.0)])
    assert append_batch_exactly_once(t, b0, "ck", 0) is True
    head_with_batch = t.current_snapshot().snapshot_id

    # rollback abandons the batch-0 snapshot: its replay must apply
    t.rollback_to(base)
    assert HIGH_WATER_PROP + "ck" not in t.metadata.properties
    assert append_batch_exactly_once(t, b0, "ck", 0) is True
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1]
    # but not twice
    assert append_batch_exactly_once(t, b0, "ck", 0) is False

    # roll FORWARD onto the abandoned head that contains its own batch-0
    # marker: the mark is restored, replay of batch 0 is skipped again
    t.rollback_to(head_with_batch)
    assert t.metadata.properties[HIGH_WATER_PROP + "ck"] == "0"
    assert append_batch_exactly_once(t, b0, "ck", 0) is False
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1]

    # partial rollback: batches 1 and 2 commit, rollback to after batch 1 —
    # batch 2 replays, batch 1 stays deduped
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=2, v=2.0)]), "ck", 1) is True
    mid = t.current_snapshot().snapshot_id
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=3, v=3.0)]), "ck", 2) is True
    t.rollback_to(mid)
    assert t.metadata.properties[HIGH_WATER_PROP + "ck"] == "1"
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=2, v=2.0)]), "ck", 1) is False
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=3, v=3.0)]), "ck", 2) is True
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 3]


def test_high_water_seq_rides_the_commit(spark, catalog):
    """Every sink commit stamps HIGH_WATER_SEQ_PROP with the committing
    snapshot's OWN sequence number (placeholder resolved inside the commit,
    so a conflict retry can't leave a stale pre-conflict value)."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.streaming.stream import (
        HIGH_WATER_SEQ_PROP,
        append_batch_exactly_once,
    )

    df = spark.createDataFrame([Row(id=1, v=1.0)])
    t = catalog.create_table("db", "eo_seq", from_spark_schema(df.schema))
    assert append_batch_exactly_once(t, df, "ck", 0) is True
    assert int(t.metadata.properties[HIGH_WATER_SEQ_PROP + "ck"]) == \
        t.current_snapshot().sequence_number
    assert append_batch_exactly_once(t, df, "ck", 1) is True
    assert int(t.metadata.properties[HIGH_WATER_SEQ_PROP + "ck"]) == \
        t.current_snapshot().sequence_number


def test_rollback_below_expired_marker_gap_allows_replay(spark, catalog):
    """r6 ADVICE (medium): rollback to a TAG-RETAINED snapshot across an
    expired marker gap. The batch's marker snapshot was expired (so there is
    no abandonment evidence), but the rollback undoes the batch's DATA —
    keeping the high-water mark would permanently dedupe the batch and its
    rows would be lost silently. The mark's own commit sequence (stamped per
    commit) proves it postdates the rollback target, so the mark drops and
    the batch replays; a batch committed BELOW the target keeps deduping."""
    import time as _time

    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.streaming.stream import (
        HIGH_WATER_PROP,
        append_batch_exactly_once,
    )

    proto = spark.createDataFrame([Row(k=0, v=0.0)])
    t = catalog.create_table("db", "eo_gap", from_spark_schema(proto.schema))
    t.append(proto)
    # batch 0 lands BELOW the future rollback target: stays deduped throughout
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=1, v=1.0)]), "ck", 0) is True
    base = t.current_snapshot().snapshot_id
    t.create_tag("good", base)

    # batch 1 lands ABOVE the target, then compaction + expiry removes its
    # marker snapshot (tag keeps base alive; head kept by retain_last)
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=2, v=2.0)]), "ck", 1) is True
    t.rewrite_data_files()
    t.expire_snapshots(older_than=int(_time.time() * 1000) + 10_000, retain_last=1)
    assert all(s.summary.get("streaming-batch") != "ck:1" for s in t.snapshots()), \
        "precondition: batch-1 marker snapshot must be expired"

    t.rollback_to(base)
    # batch 1's data is undone and its mark must have dropped to batch 0
    assert t.metadata.properties[HIGH_WATER_PROP + "ck"] == "0"
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=2, v=2.0)]), "ck", 1) is True
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2]
    # batch 0 (below the target) never replays
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=1, v=1.0)]), "ck", 0) is False


def test_racing_replay_rechecks_marker_inside_commit_retry(spark, catalog):
    """r6 ADVICE (low): two writers replaying the same (ckpt, batch) could
    BOTH pass the entry check-then-act and double-apply the batch — the
    loser's conflict retry re-committed without rechecking. The marker
    check now re-runs inside the retry closure after metadata reload, so
    the loser backs off. Race injected deterministically: the loser's
    first commit attempt triggers the winner's commit."""
    from pyspark.sql import Row

    from go_iceberg_spark.errors import CommitConflictError
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.streaming.stream import append_batch_exactly_once

    proto = spark.createDataFrame([Row(k=0, v=0.0)])
    t1 = catalog.create_table("db", "eo_race", from_spark_schema(proto.schema))
    t1.append(proto)
    t2 = catalog.load_table("db", "eo_race")
    batch = spark.createDataFrame([Row(k=1, v=1.0)])

    real = t2._commit_fn
    state = {"fired": False}

    def wrapped(md, v):
        if not state["fired"]:
            state["fired"] = True
            assert append_batch_exactly_once(t1, batch, "ck", 0) is True  # winner
            raise CommitConflictError("concurrent commit")
        return real(md, v)

    t2._commit_fn = wrapped
    # loser: passes the entry check (marker not there yet), conflicts, and
    # the in-retry recheck finds the winner's marker -> no second apply
    assert append_batch_exactly_once(t2, batch, "ck", 0) is False
    t1.refresh()
    assert sorted(r.k for r in t1.to_df().collect()) == [0, 1]
    assert sum(1 for s in t1.snapshots()
               if s.summary.get("streaming-batch") == "ck:0") == 1


def test_upsert_stream_key_only_batch(spark, catalog, tmp_path):
    """r7 degenerate sweep: a key-only source (every column is a merge key)
    crashed the latest-row window with an empty ORDER BY — now dedupes with
    dropDuplicates (rows of a key are identical by construction). NULL keys
    keep merging null-safely."""
    from pyspark.sql import Row

    import go_iceberg_spark.streaming.stream as ST
    from go_iceberg_spark.schema import from_spark_schema

    src_t = catalog.create_table(
        "db", "src_keyonly",
        from_spark_schema(spark.createDataFrame([(1,)], "user_id long").schema))
    src_t.append(spark.createDataFrame([(1,), (1,), (2,)], "user_id long"))
    out = catalog.create_table(
        "db", "tgt_keyonly",
        from_spark_schema(spark.createDataFrame([(0,)], "user_id long").schema))
    out.append(spark.createDataFrame([(0,)], "user_id long"))

    q = ST.upsert_stream(ST.read_stream(spark, src_t), out,
                         str(tmp_path / "ck"), ["user_id"], trigger_once=True)
    q.awaitTermination(120)
    out.refresh()
    assert sorted(r.user_id for r in out.to_df().collect()) == [0, 1, 2]


@pytest.mark.soak
def test_dedup_stream_exact_and_watermark_bounded(spark, catalog, tmp_path):
    """r11: the streaming dedup sink must (a) drop re-observed keys ACROSS
    micro-batch runs via checkpointed state (exact mode), (b) in
    watermarked mode drop duplicates arriving within the delay and
    RE-ADMIT a key once the watermark has aged its state out — the
    bounded-state contract that makes streaming dedup viable at 100 TB,
    and (c) append survivors exactly-once (replay adds no snapshots)."""
    import os
    import shutil

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def land(name, rows, schema):
        pdf = spark.createDataFrame(rows, schema)
        pdf.coalesce(1).write.parquet(src_dir + "/tmp")
        for f in os.listdir(src_dir + "/tmp"):
            if f.endswith(".parquet"):
                shutil.move(f"{src_dir}/tmp/{f}", f"{src_dir}/{name}.parquet")
        shutil.rmtree(src_dir + "/tmp")

    # ---- exact mode: state is the seen-key set, replays are no-ops ----
    land("e1", [("a", 1.0), ("b", 2.0), ("a", 3.0)], "k string, v double")
    seed = spark.createDataFrame([], "k string, v double")
    t = catalog.create_table("db", "dedups", from_spark_schema(seed.schema))

    def run(ck):
        src = (spark.readStream.schema("k string, v double")
               .option("pathGlobFilter", "*.parquet").parquet(src_dir))
        q = ST.dedup_stream(src, t, ck, ["k"], trigger_once=True)
        q.awaitTermination(120)
        t.refresh()

    run(ckpt)
    assert sorted(r.k for r in t.to_df().collect()) == ["a", "b"]
    land("e2", [("a", 9.0), ("c", 4.0)], "k string, v double")  # a is a dup
    run(ckpt)
    assert sorted(r.k for r in t.to_df().collect()) == ["a", "b", "c"]
    n = len(t.snapshots())
    run(ckpt)  # nothing new: no batch, no snapshot
    assert len(t.snapshots()) == n

    # ---- watermarked mode: dup inside the delay dropped, aged key
    #      re-admitted after the watermark passes its state ----
    src2_dir, ckpt2 = str(tmp_path / "src2"), str(tmp_path / "ckpt2")
    os.makedirs(src2_dir)
    sch = "k string, ts timestamp, v double"
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    seed2 = spark.createDataFrame([], sch)
    t2 = catalog.create_table("db", "dedupw", from_spark_schema(seed2.schema))

    def run_w(name_rows):
        src = (spark.readStream.schema(sch)
               .option("pathGlobFilter", "*.parquet").parquet(src2_dir))
        q = ST.dedup_stream(src, t2, ckpt2, ["k"], event_time_col="ts",
                            watermark_delay="10 minutes", trigger_once=True)
        q.awaitTermination(120)
        t2.refresh()

    land2 = lambda name, rows: (lambda: [
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(src2_dir + "/tmp"),
        [shutil.move(f"{src2_dir}/tmp/{f}", f"{src2_dir}/{name}.parquet")
         for f in os.listdir(src2_dir + "/tmp") if f.endswith(".parquet")],
        shutil.rmtree(src2_dir + "/tmp")])()
    land2("w1", [("a", t0, 1.0)])
    run_w(None)
    # duplicate 1 minute later: inside the 10-minute window -> dropped
    land2("w2", [("a", t0 + dt.timedelta(minutes=1), 2.0)])
    run_w(None)
    got = [(r.k, r.v) for r in t2.to_df().collect()]
    assert got == [("a", 1.0)], got
    # same key 2 hours later: the watermark only advances (and state only
    # evicts) at the END of the batch that carries the late event — Spark's
    # contract guarantees dedup WITHIN the delay and permits extra dedup
    # until eviction, so THIS event is still dropped...
    land2("w3", [("a", t0 + dt.timedelta(hours=2), 3.0)])
    run_w(None)
    got = [(r.k, r.v) for r in t2.to_df().collect()]
    assert got == [("a", 1.0)], got
    # ...and the NEXT batch (watermark now 11:50, state evicted) re-admits
    # the key: bounded state, not forever-dedup
    land2("w4", [("a", t0 + dt.timedelta(hours=2, minutes=1), 4.0)])
    run_w(None)
    got = sorted((r.k, r.v) for r in t2.to_df().collect())
    assert got == [("a", 1.0), ("a", 4.0)], got


def test_scd2_stream_chains_versions_across_batches_and_replays(spark, catalog, tmp_path):
    """r11: the SCD2 sink must chain versions across MICRO-BATCH runs
    exactly as one batch apply would, and a same-checkpoint replay plus a
    checkpoint-wipe full replay must both leave the history untouched
    (scd2_apply's replay no-op carries correctness, not the marker)."""
    import os
    import shutil

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def land(name, rows):
        pdf = spark.createDataFrame(rows, "k long, a string, seq long")
        pdf.coalesce(1).write.parquet(src_dir + "/tmp")
        for f in os.listdir(src_dir + "/tmp"):
            if f.endswith(".parquet"):
                shutil.move(f"{src_dir}/tmp/{f}", f"{src_dir}/{name}.parquet")
        shutil.rmtree(src_dir + "/tmp")

    base = spark.createDataFrame(
        [(1, "x", -1, None, True)],
        "k long, a string, valid_from_seq long, valid_to_seq long, is_current boolean")
    t = catalog.create_table("db", "scd2stream", from_spark_schema(base.schema))
    t.append(base)

    def run():
        src = (spark.readStream.schema("k long, a string, seq long")
               .option("pathGlobFilter", "*.parquet").parquet(src_dir))
        q = ST.scd2_stream(src, t, ckpt, ["k"], seq_col="seq", trigger_once=True)
        q.awaitTermination(120)
        t.refresh()

    land("b1", [(1, "x2", 10), (2, "y", 5)])
    run()
    land("b2", [(1, "x3", 20), (2, "y2", 25)])
    run()
    want = [(1, "x", -1, 10, False), (1, "x2", 10, 20, False),
            (1, "x3", 20, None, True),
            (2, "y", 5, 25, False), (2, "y2", 25, None, True)]
    got = sorted((r.k, r.a, r.valid_from_seq, r.valid_to_seq, r.is_current)
                 for r in t.to_df().collect())
    assert got == want, got

    # same-checkpoint replay: no new data -> no change
    run()
    assert sorted((r.k, r.a, r.valid_from_seq, r.valid_to_seq, r.is_current)
                  for r in t.to_df().collect()) == want
    # checkpoint wiped: every batch REPLAYS, scd2_apply must no-op them all
    shutil.rmtree(ckpt)
    run()
    assert sorted((r.k, r.a, r.valid_from_seq, r.valid_to_seq, r.is_current)
                  for r in t.to_df().collect()) == want

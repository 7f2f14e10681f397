"""Streaming throughput soak: a 1M-event replay with
rate limiting through the three stateful streaming shapes the workload
grades on small replays — tumbling window agg, session windows, watermarked
dedup — recording per-batch durations and state-store sizes, and asserting
the watermark contract keeps state BOUNDED (evictions happen; final state is
a small fraction of total keys/windows seen).

Fixture: 50 parquet files x 20k events (1M rows), event time advancing 30
simulated minutes per file over ~25 simulated hours, 50k distinct users.
`maxFilesPerTrigger=5` rate-limits the replay into ~10 micro-batches, so the
watermark advances batch over batch and closed windows/expired keys leave
the state store between triggers.

Usage: python scripts/streaming_soak.py [work_dir]
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = 50
ROWS_PER_FILE = 20_000
N_USERS = 50_000
BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def build_fixture(spark, src_dir: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(src_dir, exist_ok=True)
    for k in range(N_FILES):
        t0 = BASE + dt.timedelta(minutes=30 * k)
        (
            spark.range(k * ROWS_PER_FILE, (k + 1) * ROWS_PER_FILE)
            .select(
                (F.col("id") % N_USERS).alias("user_id"),
                (F.lit(t0) + (F.col("id") % 1800).cast("int").cast("string")
                 .cast("interval second")).alias("ts"),
                F.element_at(
                    F.array(F.lit("view"), F.lit("click"), F.lit("cart"), F.lit("purchase")),
                    (F.col("id") % 4 + 1).cast("int"),
                ).alias("event_type"),
                (F.col("id") % 1000 / 10.0).alias("value"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src_dir, f"b{k:03d}"))
        )


def _drain(q, timeout=600):
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError("stream did not drain")
    prog = q.recentProgress or []
    batches = []
    for p in prog:
        rows = p.get("numInputRows", 0)
        dur = (p.get("durationMs") or {}).get("triggerExecution")
        st = None
        if p.get("stateOperators"):
            st = p["stateOperators"][0].get("numRowsTotal")
        if rows or st is not None:
            batches.append({"rows": rows, "ms": dur, "state_rows": st})
    return batches


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/streaming_soak"
    from pyspark.sql import functions as F

    from go_iceberg_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    src_dir = os.path.join(root, "events")
    if not os.path.exists(os.path.join(src_dir, f"b{N_FILES-1:03d}")):
        print("building 1M-event fixture ...", flush=True)
        build_fixture(spark, src_dir)

    def source():
        return (
            spark.readStream.schema("user_id long, ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", "5")
            .parquet(src_dir + "/*")
        )

    results = {}

    # -- tumbling 1h window counts, watermark 30min, append mode ------------
    t0 = time.time()
    agg = (
        source().withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck = os.path.join(root, "ck_tumbling")
    shutil.rmtree(ck, ignore_errors=True)
    q = (agg.writeStream.format("noop").option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    results["tumbling_1h"] = {"batches": _drain(q), "wall_s": round(time.time() - t0, 1)}

    # -- session windows (30-min gap), watermark 30min -----------------------
    t0 = time.time()
    sess = (
        source().withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck = os.path.join(root, "ck_session")
    shutil.rmtree(ck, ignore_errors=True)
    q = (sess.writeStream.format("noop").option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    results["session_30m"] = {"batches": _drain(q), "wall_s": round(time.time() - t0, 1)}

    # -- watermarked dedup ----------------------------------------------------
    t0 = time.time()
    dd = (
        source().withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    ck = os.path.join(root, "ck_dedup")
    shutil.rmtree(ck, ignore_errors=True)
    q = (dd.writeStream.format("noop").option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    results["dedup_watermarked"] = {"batches": _drain(q), "wall_s": round(time.time() - t0, 1)}

    ok = True
    total_rows = N_FILES * ROWS_PER_FILE
    for name, r in results.items():
        b = r["batches"]
        states = [x["state_rows"] for x in b if x["state_rows"] is not None]
        peak = max(states) if states else 0
        final = states[-1] if states else 0
        rows = sum(x["rows"] for x in b)
        durs = [x["ms"] for x in b if x["ms"]]
        print(f"{name}: {len(b)} batches, {rows:,} input rows, wall {r['wall_s']}s, "
              f"batch ms min/med/max = {min(durs)}/{sorted(durs)[len(durs)//2]}/{max(durs)}, "
              f"state rows peak={peak:,} final={final:,}", flush=True)
        r["summary"] = {"peak_state": peak, "final_state": final,
                        "batch_ms_max": max(durs) if durs else None}
        if rows != total_rows:
            print(f"FAIL {name}: consumed {rows:,} != {total_rows:,}")
            ok = False
        # watermark contract: state must not retain everything ever seen —
        # evictions keep the final state well under the peak-possible size
        if not states or final >= peak or peak <= 0:
            print(f"FAIL {name}: no state eviction observed: {states}")
            ok = False

    print("STREAMING_SOAK", "PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

"""Empirical scale-growth audit: measure how wall time and shuffled bytes
GROW with data size for the shuffle-heaviest headline queries, instead of
arguing linearity from plan shapes alone.

Runs each query at several scale factors (default sf0.1 / sf1 / sf3 / sf10,
the larger fixtures generated by scripts/make_scale.py with join-consistent
key strides so join/dedup output scales linearly by construction), records
best-of-N wall and the cold run's shuffle write and input bytes, then fits a
log-log growth exponent. The bytes are read in-process: the cold run runs
inside a ``plans.inspect.spark_jobs`` block, and ``stage_metrics`` sums the
stages of its jobs from Spark's status store (adaptive query stages and
broadcasts run under the block's job group, so they count; the Spark UI
stays disabled). Two exponents are reported per query:

- ``wall_exp_tail`` / ``shuffle_exp_tail``: least-squares slope over the
  LARGEST scales (sf >= 1), where per-query fixed overhead (session, planning,
  Python worker spin-up) no longer dominates — this is the number that says
  whether a 100x scale-up survives;
- ``wall_exp_full`` / ``shuffle_exp_full``: slope over every scale, reported
  for transparency (biased LOW by the fixed overhead at sf0.1).

An exponent of 1.0 is linear; >~1.1 on the tail flags a super-linear query
that needs a named fix. Shuffle bytes of 0 (fully map-side / broadcast
plans) are clamped to 1 byte before the log fit and reported as-is.

Usage: python scripts/scaling_audit.py [--out SCALING.json] [--runs 2]
           [sf=dir ...]   (default: 0.1=/root/testdata/sf0.1 1=/tmp/sf1m
                           3=/tmp/sf3 10=/tmp/sf10)
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the shuffle-heaviest headline queries: a window over the full fact table,
# the heaviest TPC-H join-agg shapes, tf-idf's explode+join, the as-of join,
# and the three dedup families
QUERY_NAMES = [
    "window_running_and_lag",
    "q18_large_volume_customers",
    "text_tfidf_top_terms",
    "asof_join_purchase_to_view",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    # the wide-band variant that fixes dedup_simhash's band-keyspace
    # saturation — audited side by side so the artifact shows its growth
    "dedup_simhash_wide",
    # ANN family: fixed 5-query probe set over the growing corpus — output
    # constant; with the query side broadcast (count-verified hint, see
    # similarity._broadcast_if_small) the shuffle is top-k-rows-only at
    # every scale (WindowGroupLimit prunes the rank exchange). The hint's
    # Catalyst size estimate scales with the INPUT table, so without the
    # count check the 5-row query set loses its broadcast at sf10 and this
    # row shows the probed corpus shuffling instead.
    # Embedding DEDUP rows are deliberately NOT audited on copy-scaled
    # fixtures: at threshold 0.4 with d=64, random cross-copy cosines cross
    # the threshold at ~7e-4/pair (even under per-copy orthogonal
    # scrambling), so the fixture would show a quadratic tail that real
    # corpora (d>=768, thresholds >=0.9) do not have — that family's scale
    # shape is plan-asserted in tests/test_plans.py instead.
    "similarity_ivf_topk",
    # sketch family: the point IS the near-constant shuffle (map-side
    # combined registers, merge volume independent of row count)
    "sketch_hll_distinct",
    "q3_shipping_priority",
    # COMPANION ROWS: every query whose default-conf tail exponent exceeds
    # 1.1 because of a one-time broadcast→shuffle-join transition runs again
    # with auto-broadcast disabled at EVERY scale — the post-transition
    # shuffle-join shape at all four points, whose fitted exponent IS the
    # asymptote the 100 TB question asks about (the default row's transition
    # can land on the largest measured scale, where the artifact alone
    # can't show "then linear")
    "q3_shipping_priority_shufflejoin",
    "q18_large_volume_customers_shufflejoin",
    "dedup_minhash_lsh_shufflejoin",
]

# audit-only derived rows: (underlying query, session confs forced during
# its runs, restored after). Explicit broadcast() HINTS (e.g. minhash's
# bounded-candidate verification) still apply under threshold -1 — these
# rows disable only the SIZE-based auto-broadcast, so every scale runs the
# partitioned-join shape the largest scale falls into.
_NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                      "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}
QUERY_CONFS: dict[str, tuple[str, dict[str, str]]] = {
    "q3_shipping_priority_shufflejoin": ("q3_shipping_priority", _NO_AUTO_BROADCAST),
    "q18_large_volume_customers_shufflejoin": (
        "q18_large_volume_customers", _NO_AUTO_BROADCAST),
    "dedup_minhash_lsh_shufflejoin": ("dedup_minhash_lsh", _NO_AUTO_BROADCAST),
}

# /tmp/sf1m (NOT the legacy /tmp/sf1): all copy-scaled points must share
# make_scale.py's marker recipe, or the fit mixes fixture structure into
# the algorithm exponent (see make_scale.py's docstring)
DEFAULT_SCALES = [
    (0.1, "/root/testdata/sf0.1"),
    (1.0, "/tmp/sf1m"),
    (3.0, "/tmp/sf3"),
    (10.0, "/tmp/sf10"),
]


def _fit(xs: list[float], ys: list[float]) -> float | None:
    """Least-squares slope of log(y) on log(x); None when underdetermined."""
    pts = [(math.log(x), math.log(max(y, 1e-9))) for x, y in zip(xs, ys)]
    if len(pts) < 2:
        return None
    n = len(pts)
    mx = sum(p[0] for p in pts) / n
    my = sum(p[1] for p in pts) / n
    den = sum((p[0] - mx) ** 2 for p in pts)
    if den == 0:
        return None
    return round(sum((p[0] - mx) * (p[1] - my) for p in pts) / den, 3)


def main() -> None:
    argv = list(sys.argv[1:])
    out_name, runs = "SCALING.json", 2
    if "--out" in argv:
        i = argv.index("--out")
        out_name = argv[i + 1]
        del argv[i:i + 2]
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i:i + 2]
    scales = ([(float(a.split("=")[0]), a.split("=")[1]) for a in argv]
              if argv else [(sf, d) for sf, d in DEFAULT_SCALES if os.path.isdir(d)])

    from go_iceberg_spark.plans.inspect import spark_jobs, stage_metrics
    from go_iceberg_spark.session import EngineConfig, get_spark
    from go_iceberg_spark.workload import QUERIES

    spark = get_spark(EngineConfig(extra_confs={
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g")}))
    spark.sparkContext.setLogLevel("ERROR")

    per_query: dict[str, dict] = {n: {"wall_sec": {}, "shuffle_write_bytes": {},
                                      "input_bytes": {}} for n in QUERY_NAMES}
    for sf, sf_dir in scales:
        for name in QUERY_NAMES:
            real, confs = QUERY_CONFS.get(name, (name, {}))
            spec = QUERIES[real]
            saved = {k: spark.conf.get(k, None) for k in confs}
            for k, v in confs.items():
                spark.conf.set(k, v)
            # bytes come from the cold run (building the query included)
            walls = []
            with spark_jobs(spark) as jobs:
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            stages = stage_metrics(spark, jobs)
            sw, inb = stages["shuffle_write_bytes"], stages["input_bytes"]
            for _ in range(1, runs):  # warm runs refine the wall number only
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            q = per_query[name]
            q["wall_sec"][str(sf)] = round(min(walls), 3)
            q["shuffle_write_bytes"][str(sf)] = sw
            q["input_bytes"][str(sf)] = inb
            print(f"sf{sf} {name}: wall={min(walls):.2f}s "
                  f"shuffle={sw / 1e6:.2f}MB", flush=True)

    sfs = [sf for sf, _ in scales]
    tail = [sf for sf in sfs if sf >= 1.0]
    worst = []
    for name, q in per_query.items():
        w = [q["wall_sec"][str(sf)] for sf in sfs]
        s = [q["shuffle_write_bytes"][str(sf)] for sf in sfs]
        q["wall_exp_full"] = _fit(sfs, w)
        q["shuffle_exp_full"] = _fit(sfs, [max(x, 1) for x in s])
        wt = [q["wall_sec"][str(sf)] for sf in tail]
        st = [q["shuffle_write_bytes"][str(sf)] for sf in tail]
        q["wall_exp_tail"] = _fit(tail, wt)
        q["shuffle_exp_tail"] = _fit(tail, [max(x, 1) for x in st])
        # Per-step exponents separate a one-time plan-strategy transition
        # (AQE broadcast -> shuffle join past the size threshold: shuffled
        # bytes STEP up once, then grow linearly — expected and correct at
        # scale) from genuine super-linear growth (every step exceeds 1).
        # The LAST step is the asymptote the 100 TB question cares about.
        q["shuffle_step_exp"] = [
            _fit(sfs[i:i + 2], [max(x, 1) for x in s[i:i + 2]])
            for i in range(len(sfs) - 1)]
        q["wall_step_exp"] = [
            _fit(sfs[i:i + 2], w[i:i + 2]) for i in range(len(sfs) - 1)]
        if q["wall_exp_tail"] is not None and q["wall_exp_tail"] > 1.1:
            worst.append((name, q["wall_exp_tail"]))

    artifact = {
        "metric": "scaling_audit",
        "scales": {str(sf): d for sf, d in scales},
        "runs_per_point": runs,
        "tail_scales": [str(sf) for sf in tail],
        "queries": per_query,
        "superlinear_tail": sorted(worst, key=lambda x: -x[1]),
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), out_name)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({"metric": "scaling_audit",
                      "superlinear_tail": artifact["superlinear_tail"],
                      "out": out_name}))


if __name__ == "__main__":
    main()

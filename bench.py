"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf", "cpus",
"warmup_failures", ...}.

Each query is fully materialized via the no-op sink (no driver collect —
measures engine execution, not pandas conversion)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from go_iceberg_spark.session import get_spark
from go_iceberg_spark.workload import bench_queries, load

# The frozen r2-r8 comparable subset (21 queries): the headline set grows as
# operators land (HLL + kNN in r9, MMR in r10), so cross-round deltas compare
# THIS subtotal (emitted as value_common21) — the full total covers new scope.
#
# Reading the numbers: join_salted_skew is the FULL-SALT demonstration (the
# whole dim replicated 8x — its wall time is the documented replication tax,
# not a recommendation); join_hot_key_isolated is the production shape
# (sampled hot-key detection, only the hot slice salted). Both are
# oracle-pinned to the plain join's results. similarity_knn_classify and
# similarity_knn_gemm both score neighbors with the GEMM path; the two rows
# share one oracle.
COMMON_21 = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q8_market_share", "q14_promo_revenue",
    "q18_large_volume_customers", "window_top3_orders_per_customer",
    "window_running_and_lag", "sort_topk_lineitems", "rollup_time_bucket",
    "tumbling_window_hourly", "asof_join_purchase_to_view", "join_salted_skew",
    "join_hot_key_isolated", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "similarity_cosine_topk", "similarity_ivf_topk",
    "text_tfidf_top_terms",
]


def _assert_no_fixture_setup_in_timed_region() -> None:
    """The timed region must measure OPERATORS, not fixture construction:
    queries that build scratch tables (crud_*, bloom_*, wap_*, ...) are
    correctness-graded via queries()/oracle_sql() but excluded from the
    bench set — their wall time would be dominated by table
    create+append setup, not the operator under test. This guard keeps
    the invariant from regressing when queries gain the bench flag."""
    import inspect

    offenders = [name for name, spec in bench_queries().items()
                 if "_scratch" in inspect.getsource(spec.fn)]
    if offenders:
        raise SystemExit(f"bench queries build scratch fixtures inside the "
                         f"timed region: {offenders}")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _assert_no_fixture_setup_in_timed_region()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up pass: run every bench query once at the smallest sf so the
    # timed runs measure steady-state execution, not one-time codegen/JIT
    # compilation (standard benchmark methodology; the generated code is
    # identical across scale factors, so compilation is amortized exactly
    # like it would be on a long-running cluster). A query that fails here
    # is recorded (name -> first line of its error), not hidden.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    warmup_failures: dict[str, str] = {}
    for name, spec in bench_queries().items():
        try:
            spec.fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - reported in the JSON line
            warmup_failures[name] = (str(e).strip().splitlines() or [type(e).__name__])[0]

    # Best-of-N at the target sf (default 3; $SPARK_GRAFT_BENCH_RUNS
    # overrides — r5's first-run column showed 20-35% cold-start inflation
    # at sf0.1, and single-run sf1 numbers repeatedly mis-attributed ±20%
    # VM noise as regressions): a
    # single-shot timing mixes steady-state execution with whatever
    # GC/JIT/page-cache state the previous query left behind; the min of N
    # runs is the standard steady-state estimator and is what a
    # long-running cluster actually delivers. Every run's time is emitted
    # (run_times) so the artifact records the spread, not just the min.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # Fixed-cost CALIBRATION row (r6 VERDICT task #5): a pure in-memory
    # aggregation whose cost is independent of the repo's code and of the
    # data on disk. Round-over-round bench tables divide by this to
    # normalize for VM state — r6's +18.5% "regression" was mostly the VM
    # itself running slower than at r5 bench time (idle re-runs returned
    # individual queries to r5 levels). Not included in the headline total.
    def _calibrate() -> list[float]:
        out = []
        for _ in range(max(runs, 3)):
            t0 = time.perf_counter()
            spark.range(0, 10_000_000, 1, 32).selectExpr("sum(id * 2 + 1)").collect()
            out.append(round(time.perf_counter() - t0, 3))
        return out

    cal_times = _calibrate()
    calibration = min(cal_times)

    timings: dict[str, float] = {}
    run_times: dict[str, list[float]] = {}
    for name, spec in bench_queries().items():
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        run_times[name] = times
        timings[name] = min(times)

    # END-of-run calibration bracket (r7 VERDICT task #6): the r7 driver
    # bench showed load can arrive AFTER a clean start-of-run probe (driver
    # total 18.9 s vs 12.9 s idle at the SAME start calibration). A probe at
    # each end lets a polluted bench self-identify: if min/max of the two
    # calibrations diverge, the query timings in between are suspect.
    cal_times_end = _calibrate()
    calibration_end = min(cal_times_end)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    missing_common = [n for n in COMMON_21 if n not in timings]
    result = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        # round-over-round comparable subtotal: the frozen 21-query subset
        # every round since r2 has run (the full value covers new scope)
        "value_common21": round(
            sum(t for n, t in timings.items() if n in COMMON_21), 3),
        "common21_missing": missing_common,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "warmup_failures": warmup_failures,
        "runs_per_query": runs,
        "run_times": run_times,
        # VM-state normalizer: in-memory spark.range sum, best-of-N; compare
        # ratios of (query / calibration_sec) across rounds, not raw seconds
        "calibration_sec": calibration,
        "calibration_runs": cal_times,
        # start/end bracket: divergence between these two flags mid-bench
        # environment drift (compare each query to the WORSE of the two)
        "calibration_end_sec": calibration_end,
        "calibration_end_runs": cal_times_end,
        "calibration_spread": round(
            max(calibration, calibration_end)
            / max(min(calibration, calibration_end), 1e-9), 3),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

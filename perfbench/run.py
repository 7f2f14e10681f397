"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_suite,table_ingest,table_scan}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. Builds its inputs from ``--seed`` under
``.perfbench/`` (removed on exit, apart from ``.perfbench/out/``), measures
whole rounds of operations for ``--seconds``, checks every result, and prints
as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). The line before it is a report with the environment, the
failures with their messages and every workload-specific figure. The traced
run also writes its spans to ``.perfbench/out/``.

``--smoke`` shrinks the inputs and runs one round (two when traced); the
benchmark's own test uses it.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_suite", "table_ingest", "table_scan")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "query_set_s": "s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "workload.build_s": "s/op",
    "workload.eager_jobs": "jobs/op",
    "spark.plan_s": "s/op",
    "spark.exec_s": "s/op",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.executor_run_s": "s/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.input_bytes": "B/op",
    "catalog.load_table_s": "s/op",
    "catalog.create_table_s": "s",
    "table.write.s": "s/op",
    "table.write.files": "files/op",
    "table.write.bytes": "B/op",
    "table.write.bytes_per_user_byte": "ratio",
    "table.metadata.commit_s": "s/op",
    "table.metadata.load_s": "s/op",
    "table.metadata.json_bytes": "B/op",
    "table.commit.attempts_per_commit": "ratio",
    "table.manifest.write_s": "s/op",
    "table.manifest.write_bytes": "B/op",
    "table.manifest_avro.write_s": "s/op",
    "table.manifest_avro.write_bytes": "B/op",
    "table.manifest.read_s": "s/op",
    "table.manifest.reads": "reads/op",
    "table.manifest.entries_read": "entries/op",
    "table.scan.plan_s": "s/op",
    "table.scan.files_planned": "files/op",
    "table.planning.members_read": "members/op",
    "table.planning.members_total": "members/op",
    "table.planning.entries_examined_per_file_planned": "ratio",
    "table.planning.tier.snapshot_skip": "count",
    "table.planning.tier.memory": "count",
    "table.planning.tier.driver_prune": "count",
    "table.planning.tier.distributed": "count",
    "table.mutate.rewrite_s": "s/op",
    "table.mutate.files_rewritten": "files/op",
    "table.mutate.delete_files_written": "files/op",
    "table.maintenance.s": "s/op",
    "table.maintenance.bytes_rewritten": "B/op",
    "trace_overhead_ratio": "ratio",
}


def run(args) -> dict:
    t_start = time.perf_counter()
    run_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(run_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Spark's Python workers import the package from the checkout, and every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    import tempfile
    tempfile.tempdir = None

    from perfbench import trace as T
    from perfbench.harness import Bench

    wl = importlib.import_module(f"perfbench.{args.workload}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke,
                  ROOT, work)
    if bench.trace:
        bench.tracer = T.Tracer()
        T.install(bench.tracer)
        bench.tracer.op_id = -1
        bench.tracer.active = True
    try:
        if hasattr(wl, "prepare"):
            with bench.checking():
                wl.prepare(bench)
        bench.start_session()
        wl.setup(bench)
        if bench.tracer is not None:
            bench.tracer.active = False
        bench.phases["setup_s"] = time.perf_counter() - t_start - bench.check_s
        rounds = (2 if bench.trace else 1) if args.smoke else None
        bench.measure(wl.make_round, max_rounds=rounds)
        wl.finish(bench)
        bench.phases["check_s"] = bench.check_s
        metrics = bench.per_layer() if bench.trace else bench.end_to_end()
        units = PER_LAYER if bench.trace else END_TO_END
        attempted = len(bench.records)
        failed = sum(1 for r in bench.records if not r.ok)
        report = {
            "workload": args.workload, "trace": bool(args.trace), "smoke": args.smoke,
            "environment": bench.environment(),
            "rounds": bench.extra.get("rounds"),
            "samples": {"ops": attempted, "untraced_ok": sum(
                1 for r in bench.records if r.ok and not r.traced)},
            "failures": bench.failures,
            "ops": [[r.kind, round(r.latency, 6), r.traced, r.ok] for r in bench.records],
            "phases": bench.phases,
            "reported_metrics": {"op_latency_p50_s": bench.latency_percentile(0.5),
                              "op_latency_p90_s": bench.latency_percentile(0.9),
                              "op_failure_ratio": failed / attempted if attempted else 1.0,
                              **bench.extra.get("reported_metrics", {})},
            "end_to_end": bench.end_to_end(),
        }
        if bench.trace:
            spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            bench.tracer.write(spans)
            report["spans_file"] = os.path.relpath(spans, ROOT)
        if report["environment"]["cpus_mismatch"]:
            print(f"warning: defaultParallelism {report['environment']['cpus']} != "
                  f"nproc {report['environment']['nproc']}", file=sys.stderr)
        with open(os.path.join(out_dir, f"report-{args.workload}-seed{args.seed}"
                                        f"-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        return {
            "report": report,
            "result": {
                "correct": not bench.failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            },
        }
    finally:
        if bench.spark is not None:
            bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    # import this directory as the ``perfbench`` package, never as top-level
    # modules (``perfbench/trace.py`` would shadow the standard ``trace``)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import go_iceberg_spark  # noqa: F401 - the program under test must be present
    except ImportError as exc:
        print(f"perfbench: cannot import go_iceberg_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        out = run(args)
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        return 1
    print(json.dumps({"report": out["report"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

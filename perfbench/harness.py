"""Closed-loop driver shared by the workloads: one client, one Spark session.

A workload supplies ``setup(bench)`` (fixture and warm-up), ``make_round(
bench, i)`` (one deck of operations in a seeded order, the same kinds in the
same counts every round) and ``finish(bench)`` (final-state checks and
workload-only figures). The bench runs whole rounds until ``--seconds`` have
passed. Each operation is timed alone; its correctness check runs after the
timer stops, and an exception or a wrong result counts it as failed.

The traced run alternates untraced and traced rounds in one process, so
``trace_overhead_ratio`` compares the same operation kinds on the same
session and table state.
"""

from __future__ import annotations

import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

from . import trace as T


@dataclass
class Op:
    kind: str
    run: Callable[[Any], Any]
    prepare: Callable[[], Any] | None = None
    check: Callable[[Any, Any], str | None] | None = None


@dataclass
class Record:
    op_id: int
    kind: str
    latency: float
    ok: bool
    traced: bool
    error: str | None = None


def percentile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def deal(seed: int, i: int, deck, last=()) -> list[tuple[str, random.Random]]:
    """Round ``i``'s operation kinds in an order drawn from the seed, ``last``
    at the end, each with its own generator for its parameters."""
    kinds = list(deck)
    random.Random(f"{seed}/{i}").shuffle(kinds)
    kinds.extend(last)
    return [(kind, random.Random(f"{seed}/{i}/{j}")) for j, kind in enumerate(kinds)]


def _short(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300] if str(exc).strip() else ''}"


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    root: str
    work: str
    spark: Any = None
    tracer: T.Tracer | None = None
    probe: T.SparkProbe | None = None
    records: list[Record] = field(default_factory=list)
    failures: list[dict] = field(default_factory=list)
    spark_by_op: dict[int, dict] = field(default_factory=dict)
    eager_jobs: dict[int, int] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)
    check_s: float = 0.0
    extra: dict[str, Any] = field(default_factory=dict)
    state: dict[str, Any] = field(default_factory=dict)
    tracing_op: bool = False

    # -- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        from go_iceberg_spark.session import EngineConfig, get_spark

        cpus = len(os.sched_getaffinity(0))
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        cfg = EngineConfig(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_confs={
                "spark.driver.memory": "2g",
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t0 = time.perf_counter()
        with self.setup_span("session.start"):
            self.spark = get_spark(cfg)
        self.phases["session_start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.probe = T.SparkProbe(self.spark)

    def stop_session(self) -> None:
        """Stop the session and wait for its JVM, which exits on stdin EOF."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort: the JVM must not outlive us
                proc.kill()
                proc.wait()

    def child(self, module: str, *args: str) -> str:
        """Run ``python3 -m perfbench.<module> args`` and return its last
        stdout line. Inputs and fixtures are made in a child process, so the
        measured driver never holds them and its peak memory is its own."""
        proc = subprocess.run([sys.executable, "-m", f"perfbench.{module}", *args],
                              cwd=self.root, capture_output=True, text=True, check=False)
        if proc.returncode != 0:
            raise RuntimeError(f"perfbench.{module} exited {proc.returncode}: "
                               f"{proc.stderr.strip()[-2000:]}")
        return proc.stdout.strip().splitlines()[-1]

    def generate(self, out_dir: str, sf: float, only: tuple[str, ...] | None = None,
                 files: int = 1) -> dict[str, int]:
        """Write the seeded input tables (``perfbench.datagen``); row counts."""
        args = [out_dir, str(self.seed), str(sf), "--files", str(files)]
        if only is not None:
            args += ["--only", ",".join(only)]
        return json.loads(self.child("datagen", *args))

    def setup_span(self, name: str):
        """A span recorded during set-up (op id -1) in the traced run."""
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def checking(self):
        """Time spent in the benchmark's own oracles and models; it is kept
        out of ``setup_s``."""
        return _Stopwatch(self)

    def warm(self, label: str, fn: Callable[[], Any]) -> Any:
        """Run a warm-up step; an exception is recorded, never swallowed."""
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - reported as a failure
            self.failures.append({"phase": "warmup", "what": label, "error": _short(exc),
                                  "trace": traceback.format_exc(limit=4)})
            return None

    def warm_op(self, op: Op) -> None:
        """Run one operation untimed, with its check, during set-up; its wall
        time goes to the report's phases as ``warm.<kind>``."""
        t0 = time.perf_counter()

        def go():
            with self.checking():
                arg = op.prepare() if op.prepare is not None else None
            result = op.run(arg)
            if op.check is not None:
                with self.checking():
                    msg = op.check(arg, result)
                if msg:
                    self.fail_check(f"warm-up {op.kind}", msg)
        self.warm(op.kind, go)
        self.phases[f"warm.{op.kind}"] = time.perf_counter() - t0

    def fail_check(self, what: str, msg: str) -> None:
        self.failures.append({"phase": "check", "what": what, "error": msg})

    # -- measurement -------------------------------------------------------
    def execute(self, op: Op, traced: bool) -> None:
        op_id = len(self.records)
        arg = None
        if op.prepare is not None:
            try:
                with self.checking():
                    arg = op.prepare()
            except Exception as exc:  # noqa: BLE001 - input preparation failed
                self._record(op_id, op.kind, 0.0, False, traced, f"prepare: {_short(exc)}")
                return
        group = f"perfbench-op-{op_id}"
        if traced:
            self.tracer.op_id = op_id
            self.tracer.active = True
            self.probe.set_group(group)
        self.tracing_op = traced
        error = None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{op.kind}"):
                    result = op.run(arg)
            else:
                result = op.run(arg)
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            error = _short(exc)
        latency = time.perf_counter() - t0
        self.tracing_op = False
        if traced:
            self.tracer.active = False
            self.probe.clear_group()
            self.spark_by_op[op_id] = self.probe.collect(group)
        if error is None and op.check is not None:
            try:
                with self.checking():
                    error = op.check(arg, result)
            except Exception as exc:  # noqa: BLE001 - a broken check is a failure
                error = f"check: {_short(exc)}"
        self._record(op_id, op.kind, latency, error is None, traced, error)

    def mark_eager_jobs(self) -> None:
        """Inside a traced op: remember how many jobs it has started so far."""
        if self.tracing_op:
            op_id = self.tracer.op_id
            self.eager_jobs[op_id] = self.probe.job_count(f"perfbench-op-{op_id}")

    def span(self, name: str):
        """A span inside the current operation, when it is traced."""
        return self.tracer.span(name) if self.tracing_op else nullcontext()

    def _record(self, op_id, kind, latency, ok, traced, error) -> None:
        self.records.append(Record(op_id, kind, latency, ok, traced, error))
        if error is not None:
            self.failures.append({"phase": "op", "what": f"{kind}#{op_id}", "error": error})

    def measure(self, make_round: Callable[["Bench", int], list[Op]],
                max_rounds: int | None = None) -> None:
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = self.trace and i % 2 == 1
            for op in make_round(self, i):
                self.execute(op, traced)
            i += 1
            done = time.perf_counter() - t0 >= self.seconds
            if self.trace and i < 2:
                done = False
            if done or (max_rounds is not None and i >= max_rounds):
                break
        self.phases["measure_s"] = time.perf_counter() - t0
        self.extra["rounds"] = i

    # -- results -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        ok = [r for r in self.records if r.ok and not r.traced]
        lat = [r.latency for r in ok]
        by_kind: dict[str, list[float]] = {}
        for r in ok:
            by_kind.setdefault(r.kind, []).append(r.latency)
        return {
            "setup_s": self.phases["setup_s"],
            "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
            "query_set_s": sum(statistics.median(v) for v in by_kind.values()),
            "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }

    def latency_percentile(self, q: float) -> float:
        return percentile([r.latency for r in self.records if r.ok and not r.traced], q)

    def kind_latencies(self, kinds, traced: bool = False) -> list[float]:
        return [r.latency for r in self.records
                if r.ok and r.traced == traced and r.kind in kinds]

    def per_layer(self) -> dict[str, float]:
        traced_ops = {r.op_id for r in self.records if r.traced}
        m = T.layer_metrics(self.tracer, traced_ops, self.spark_by_op, self.eager_jobs)
        setup_spans = [s for s in self.tracer.spans if s[5] == -1 and s[3] is not None]
        m["session.start_s"] = sum(s[3] - s[2] for s in setup_spans if s[1] == "session.start")
        m["catalog.create_table_s"] = sum(
            s[3] - s[2] for s in setup_spans if s[1] == "catalog.create_table")
        plain: dict[str, list[float]] = {}
        traced: dict[str, list[float]] = {}
        for r in self.records:
            if r.ok:
                (traced if r.traced else plain).setdefault(r.kind, []).append(r.latency)
        kinds = [k for k in plain if k in traced]
        base = sum(statistics.median(plain[k]) for k in kinds)
        m["trace_overhead_ratio"] = (
            sum(statistics.median(traced[k]) for k in kinds) / base if base else 0.0)
        m["table.write.bytes_per_user_byte"] = 0.0
        m.update(self.extra.get("layer_extra", {}))
        return m

    def environment(self) -> dict[str, Any]:
        import pyspark

        nproc = len(os.sched_getaffinity(0))
        cpus = self.spark.sparkContext.defaultParallelism if self.spark else None
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=self.root, capture_output=True,
                text=True, timeout=10, check=False).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
        java = None
        if self.spark is not None:
            java = str(self.spark.sparkContext._jvm.System.getProperty("java.version"))
        return {
            "cpus": cpus, "nproc": nproc, "cpus_mismatch": cpus != nproc,
            "seed": self.seed, "sf": self.extra.get("sf"),
            "pyspark": pyspark.__version__, "java": java, "git_commit": commit,
        }


class _Stopwatch:
    def __init__(self, bench: Bench):
        self.bench = bench

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.bench.check_s += time.perf_counter() - self.t0
        return False

"""Spans and per-layer counters for the traced run.

Tracing lives entirely in the benchmark: ``install`` wraps the public entry
points of each ``go_iceberg_spark`` layer at start-up, replacing the function
in its defining module and in every other loaded module that imported it
under any name (``table/table.py`` holds its own reference to
``metadata.write_manifest``, for example). Calls made while the tracer is
inactive go straight through.

A span is (id, name, start, end, parent, op id, attrs). Spans stay in memory
and are written out once, at the end. Spark work is attributed per operation
through a job group and read in-process from ``statusTracker()`` and the
status store, so the UI stays off.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

# (metric name, span names whose outermost occurrences are summed)
TIME_METRICS = [
    ("workload.build_s", ("workload.build",)),
    ("spark.plan_s", ("spark.plan",)),
    ("catalog.load_table_s", ("catalog.load_table",)),
    ("table.write.s", ("table.write",)),
    ("table.metadata.commit_s", ("table.metadata.commit",)),
    ("table.metadata.load_s", ("table.metadata.load",)),
    ("table.manifest.write_s", ("table.manifest.write", "table.manifest.write_list")),
    ("table.manifest_avro.write_s", ("table.manifest_avro.write",)),
    ("table.manifest.read_s", ("table.manifest.read", "table.manifest.read_list",
                               "table.manifest_avro.read")),
    ("table.scan.plan_s", ("table.scan.plan_files",)),
    ("table.mutate.rewrite_s", ("table.mutate.delete", "table.mutate.merge",
                                "table.mutate.update")),
    ("table.maintenance.s", ("table.maintenance.rewrite_data_files",
                             "table.maintenance.rewrite_position_deletes",
                             "table.maintenance.rewrite_manifests",
                             "table.maintenance.expire_snapshots")),
]
MAINTENANCE = TIME_METRICS[-1][1]
TIERS = ("snapshot_skip", "memory", "driver_prune", "distributed")


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[list] = []  # [id, name, start, end, parent, op, attrs]
        self.stack: list[list] = []
        self.op_id: int | None = None

    def begin(self, name: str) -> list:
        parent = self.stack[-1][0] if self.stack else None
        rec = [len(self.spans), name, time.perf_counter(), None, parent, self.op_id, {}]
        self.spans.append(rec)
        self.stack.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[3] = time.perf_counter()
        while self.stack and self.stack.pop() is not rec:
            pass

    def span(self, name: str):
        return _SpanCtx(self, name)

    def bump(self, key: str, n: int = 1) -> None:
        """Add to a counter on the innermost open span."""
        if self.active and self.stack:
            attrs = self.stack[-1][6]
            attrs[key] = attrs.get(key, 0) + n

    def write(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                child_time[s[4]] = child_time.get(s[4], 0.0) + (s[3] - s[2])
        with open(path, "w") as f:
            for sid, name, start, end, parent, op, attrs in self.spans:
                dur = (end or start) - start
                f.write(json.dumps({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": op,
                    "self_s": dur - child_time.get(sid, 0.0), "attrs": attrs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.rec = tracer, name, None

    def __enter__(self):
        if self.tracer.active:
            self.rec = self.tracer.begin(self.name)
        return self.rec

    def __exit__(self, *exc):
        if self.rec is not None:
            self.tracer.end(self.rec)
        return False


# ---------------------------------------------------------------------------
# wrappers


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def _wrap(tracer: Tracer, name: str, orig, after=None):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return orig(*args, **kwargs)
        rec = tracer.begin(name)
        try:
            result = orig(*args, **kwargs)
        finally:
            tracer.end(rec)
        if after is not None:
            after(rec[6], args, kwargs, result)
        return result
    wrapper.__perfbench_orig__ = orig
    return wrapper


def _counter(tracer: Tracer, key: str, orig):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        tracer.bump(key)
        return orig(*args, **kwargs)
    wrapper.__perfbench_orig__ = orig
    return wrapper


def _replace_everywhere(orig, wrapper) -> None:
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == "go_iceberg_spark" or mname.startswith("go_iceberg_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def _arg(args, kwargs, i: int, name: str):
    return kwargs[name] if name in kwargs else args[i]


def install(tracer: Tracer) -> None:
    """Wrap every traced entry point of the package (idempotent per process)."""
    import go_iceberg_spark.avro as avro
    import go_iceberg_spark.catalog.catalog as catalog
    import go_iceberg_spark.table.maintenance as maintenance
    import go_iceberg_spark.table.manifest_avro as manifest_avro
    import go_iceberg_spark.table.metadata as metadata
    import go_iceberg_spark.table.mutate as mutate
    import go_iceberg_spark.table.planning as planning
    import go_iceberg_spark.table.scan as scan
    import go_iceberg_spark.table.table as table
    import go_iceberg_spark.table.write as write
    import pyarrow.parquet as pq

    if getattr(metadata.write_manifest, "__perfbench_orig__", None) is not None:
        return

    def fn(module, attr, name, after=None):
        orig = getattr(module, attr)
        _replace_everywhere(orig, _wrap(tracer, name, orig, after))

    def method(cls, attr, name, after=None):
        setattr(cls, attr, _wrap(tracer, name, cls.__dict__[attr], after))

    def n_result(attrs, args, kwargs, result):
        attrs["n"] = len(result)

    def written(attrs, args, kwargs, result):
        attrs["files"] = len(result)
        attrs["bytes"] = sum(e.file_size for e in result)

    def file_bytes(attrs, args, kwargs, result):
        attrs["bytes"] = _size(_arg(args, kwargs, 0, "path"))

    def metadata_bytes(attrs, args, kwargs, result):
        location = _arg(args, kwargs, 0, "location")
        attrs["bytes"] = _size(os.path.join(metadata.metadata_dir(location),
                                            f"v{result}.metadata.json"))

    def manifest_rows(position: int):
        def after(attrs, args, kwargs, result):
            paths = _arg(args, kwargs, position, "path")
            paths = paths if isinstance(paths, list) else [paths]
            attrs["members"] = len(paths)
            attrs["entries"] = sum(pq.read_metadata(p).num_rows for p in paths)
        return after

    def snapshot_effect(attrs, args, kwargs, result):
        tbl = args[0]
        if result is None:
            return
        attrs["files_rewritten"] = int(result.summary.get("removed-data-files", 0))
        before = 0
        if result.parent_snapshot_id is not None:
            parent = tbl.metadata.snapshot_by_id(result.parent_snapshot_id)
            before = int(parent.summary.get("total-delete-files", 0))
        attrs["delete_files_written"] = max(
            0, int(result.summary.get("total-delete-files", 0)) - before)

    fn(write, "write_data_files", "table.write", written)
    fn(metadata, "commit_metadata", "table.metadata.commit", metadata_bytes)
    fn(metadata, "load_metadata", "table.metadata.load")
    fn(metadata, "write_manifest", "table.manifest.write", file_bytes)
    fn(metadata, "write_manifest_list", "table.manifest.write_list", file_bytes)
    fn(metadata, "read_manifest", "table.manifest.read", n_result)
    fn(metadata, "read_manifest_list", "table.manifest.read_list", n_result)
    fn(manifest_avro, "write_avro_manifest_tree", "table.manifest_avro.write")
    fn(manifest_avro, "write_avro_manifests", "table.manifest_avro.write")
    fn(manifest_avro, "read_avro_manifest_tree", "table.manifest_avro.read", n_result)
    fn(avro, "write_ocf", "avro.write_ocf", file_bytes)
    fn(planning, "prune_manifest_driver", "table.planning.prune_manifest_driver", manifest_rows(0))
    fn(planning, "plan_distributed", "table.planning.plan_distributed", manifest_rows(1))
    _replace_everywhere(scan._stats_for_pruning,
                        _counter(tracer, "entries", scan._stats_for_pruning))
    method(scan.ScanBuilder, "plan_files", "table.scan.plan_files", n_result)
    method(scan.ScanBuilder, "_pruned_entries", "table.scan.pruned_entries")
    method(table.Table, "rewrite_manifests", "table.maintenance.rewrite_manifests")
    method(catalog.FilesystemCatalog, "load_table", "catalog.load_table")
    method(catalog.FilesystemCatalog, "create_table", "catalog.create_table")
    fn(mutate, "delete", "table.mutate.delete", snapshot_effect)
    fn(mutate, "merge", "table.mutate.merge", snapshot_effect)
    fn(mutate, "update", "table.mutate.update", snapshot_effect)
    for attr in ("rewrite_data_files", "rewrite_position_deletes", "expire_snapshots"):
        fn(maintenance, attr, f"table.maintenance.{attr}")

    orig_retrying = table.Table.__dict__["_retrying"]

    @functools.wraps(orig_retrying)
    def retrying(self, build_and_commit):
        if not tracer.active:
            return orig_retrying(self, build_and_commit)
        rec = tracer.begin("table.commit")
        rec[6]["attempts"] = 0

        def counted():
            rec[6]["attempts"] += 1
            return build_and_commit()
        try:
            return orig_retrying(self, counted)
        finally:
            tracer.end(rec)
    table.Table._retrying = retrying


# ---------------------------------------------------------------------------
# Spark job-group metrics


class SparkProbe:
    """Per-operation Spark work, read from the in-process status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def flush(self) -> None:
        try:
            self.jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - older Spark: best effort
            time.sleep(0.05)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_count(self, group: str) -> int:
        self.flush()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str) -> dict:
        self.flush()
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "input_bytes": 0,
               "exec_s": 0.0}
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            try:
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append((jd.submissionTime().get().getTime(),
                                      jd.completionTime().get().getTime()))
            except Exception:  # noqa: BLE001 - job evicted from the store
                pass
            for sid in (info.stageIds if info is not None else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never attempted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["input_bytes"] += sd.inputBytes()
        covered, last = 0, None
        for a, b in sorted(intervals):
            if last is None or a > last:
                covered += b - a
                last = b
            elif b > last:
                covered += b - last
                last = b
        out["exec_s"] = covered / 1000.0
        return out


# ---------------------------------------------------------------------------
# aggregation


def _outermost(spans: list[list], names: tuple[str, ...]) -> list[list]:
    by_id = {s[0]: s for s in spans}
    out = []
    for s in spans:
        if s[1] not in names or s[3] is None:
            continue
        p = s[4]
        while p is not None and by_id[p][1] not in names:
            p = by_id[p][4]
        if p is None:
            out.append(s)
    return out


def _descendants(spans: list[list], root: list) -> list[list]:
    ids = {root[0]}
    out = []
    for s in spans:  # spans are created in begin order, so parents come first
        if s[4] in ids:
            ids.add(s[0])
            out.append(s)
    return out


def layer_metrics(tracer: Tracer, ops: set[int], spark_by_op: dict[int, dict],
                  eager_jobs: dict[int, int]) -> dict[str, float]:
    """Per-layer metrics over the traced operations ``ops``: times, bytes and
    counts are totals divided by the number of operations; tier counts are
    totals."""
    spans = [s for s in tracer.spans if s[5] in ops and s[3] is not None]
    n = max(1, len(ops))
    m: dict[str, float] = {}
    for name, names in TIME_METRICS:
        m[name] = sum(s[3] - s[2] for s in _outermost(spans, names)) / n

    def attr_sum(names, key):
        return sum(s[6].get(key, 0) for s in _outermost(spans, names))

    m["workload.eager_jobs"] = sum(eager_jobs.get(o, 0) for o in ops) / n
    for key in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "input_bytes", "exec_s"):
        m[f"spark.{key}"] = sum(spark_by_op.get(o, {}).get(key, 0) for o in ops) / n
    m["table.write.files"] = attr_sum(("table.write",), "files") / n
    m["table.write.bytes"] = attr_sum(("table.write",), "bytes") / n
    m["table.metadata.json_bytes"] = attr_sum(("table.metadata.commit",), "bytes") / n
    commits = _outermost(spans, ("table.commit",))
    m["table.commit.attempts_per_commit"] = (
        sum(s[6].get("attempts", 0) for s in commits) / len(commits) if commits else 0.0)
    m["table.manifest.write_bytes"] = sum(
        s[6].get("bytes", 0) for s in spans
        if s[1] in ("table.manifest.write", "table.manifest.write_list")) / n
    m["table.manifest_avro.write_bytes"] = sum(
        s[6].get("bytes", 0) for s in spans if s[1] == "avro.write_ocf") / n
    reads = [s for s in spans if s[1] in ("table.manifest.read", "table.manifest_avro.read")]
    m["table.manifest.reads"] = len(reads) / n
    m["table.manifest.entries_read"] = sum(s[6].get("n", 0) for s in reads) / n

    tiers = dict.fromkeys(TIERS, 0)
    members_read = members_total = examined = planned = 0
    for plan in _outermost(spans, ("table.scan.plan_files",)):
        sub = _descendants(spans, plan)
        names = {s[1] for s in sub}
        if "table.planning.plan_distributed" in names:
            tiers["distributed"] += 1
        elif "table.planning.prune_manifest_driver" in names:
            tiers["driver_prune"] += 1
        elif "table.scan.pruned_entries" in names:
            tiers["memory"] += 1
        else:
            tiers["snapshot_skip"] += 1
        planned += plan[6].get("n", 0)
        for s in [plan, *sub]:
            examined += s[6].get("entries", 0)
            if s[1] == "table.manifest.read_list":
                members_total += s[6].get("n", 0)
            elif s[1] == "table.manifest.read":
                members_read += 1
            elif s[1].startswith("table.planning."):
                members_read += s[6].get("members", 0)
    m["table.scan.files_planned"] = planned / n
    m["table.planning.members_read"] = members_read / n
    m["table.planning.members_total"] = members_total / n
    m["table.planning.entries_examined_per_file_planned"] = examined / max(1, planned)
    for t in TIERS:
        m[f"table.planning.tier.{t}"] = tiers[t]
    m["table.mutate.files_rewritten"] = attr_sum(
        ("table.mutate.delete", "table.mutate.merge", "table.mutate.update"), "files_rewritten") / n
    m["table.mutate.delete_files_written"] = attr_sum(
        ("table.mutate.delete", "table.mutate.merge", "table.mutate.update"),
        "delete_files_written") / n
    rewritten = 0
    for s in _outermost(spans, MAINTENANCE):
        rewritten += sum(c[6].get("bytes", 0) for c in _descendants(spans, s)
                         if c[1] == "table.write")
    m["table.maintenance.bytes_rewritten"] = rewritten / n
    return m

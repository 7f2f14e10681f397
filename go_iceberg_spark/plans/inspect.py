"""Physical-plan inspection: assert the plans we ship are the plans we want.

The 100 TB contract is a plan-shape contract: dimension joins must broadcast,
scans must push filters and prune columns, operator pipelines must not
duplicate expensive subtrees. These helpers turn those expectations into
assertions (used in tests/test_plans.py) so a regression in plan shape fails
CI even while results stay correct.
"""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """The `explain("formatted")` text, returned instead of printed."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan_text(plan: DataFrame | str) -> str:
    return plan if isinstance(plan, str) else formatted_plan(plan)


@contextmanager
def executed_plans(spark: SparkSession):
    """Yield a list that, when the block exits, holds the physical plan
    description of every SQL execution started inside it, in start order.

    Operators that compute eagerly (checkpoints, counts, collects) run
    their real work while the query is BUILT, and the returned frame's own
    plan is only a scan of the checkpointed blocks. The SQL status store
    keeps each execution's plan text (the final adaptive plan once it
    finishes, in ``spark.sql.ui.explainMode`` format — formatted by
    default), and it is registered even with the UI disabled."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    seen = {e.executionId() for e in executions()}
    plans: list[str] = []
    yield plans
    # the status store is fed by the listener bus; drain it so the last
    # executions and their final adaptive plans are recorded
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    plans.extend(e.physicalPlanDescription() for e in executions()
                 if e.executionId() not in seen)


@contextmanager
def spark_jobs(spark: SparkSession):
    """Yield a list that, when the block exits, holds the id of every Spark
    job started inside it, in id order. The block runs under its own job
    group, read back through the status tracker, so the jobs Spark starts
    on its own — schema inference, broadcasts, adaptive query stages,
    range-partition sampling — count as well as the actions. The caller's
    job group is restored on exit."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"spark_jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def stage_metrics(spark: SparkSession, jobs: list[int]) -> dict[str, int]:
    """Sum stages, tasks, shuffle write/read bytes and input bytes over the
    stages the ``jobs`` of a ``spark_jobs`` block ran. Adaptive query
    stages and broadcasts run under the block's job group, so their bytes
    count. A stage shared by several jobs counts once; a skipped stage
    (its shuffle output already written) counts not at all. Read from the
    status tracker and status store, which are kept with the UI disabled."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(("stages", "tasks", "shuffle_write_bytes",
                         "shuffle_read_bytes", "input_bytes"), 0)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never attempted
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["input_bytes"] += sd.inputBytes()
    return out


def assert_max_jobs(jobs: list[int], at_most: int) -> None:
    """Bound the Spark jobs a ``spark_jobs`` block ran — each costs a
    driver scheduling floor whatever its data size."""
    assert len(jobs) <= at_most, f"expected <= {at_most} Spark jobs, ran {len(jobs)}"


def count_op(plan: DataFrame | str, op: str) -> int:
    """Number of DISTINCT physical operator instances in the plan (e.g.
    'BroadcastHashJoin', 'SortMergeJoin', 'Exchange', 'Generate'), given a
    DataFrame or formatted plan text. formatted-explain prints each node
    twice (tree + detail block), so we count unique node ids rather than
    raw substring hits."""
    plan = _plan_text(plan)
    ids = set(re.findall(r"\((\d+)\) " + re.escape(op) + r"\b", plan))
    return len(ids) if ids else plan.count(op)


def num_shuffles(df: DataFrame) -> int:
    """Exchange nodes in the plan — each is a full shuffle of its input."""
    return count_op(df, "Exchange")


def pushed_filters(df: DataFrame) -> list[str]:
    """All non-empty PushedFilters lists from the scans in the plan."""
    return [m for m in re.findall(r"PushedFilters: \[([^\]]+)\]", formatted_plan(df)) if m.strip()]


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — verifies column pruning reached parquet."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def assert_broadcasts(df: DataFrame, at_least: int = 1) -> None:
    n = count_op(df, "BroadcastHashJoin")
    assert n >= at_least, f"expected >= {at_least} BroadcastHashJoin, plan has {n}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, "plan contains a CartesianProduct"


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    """A pushed filter mentioning ``fragment`` (usually a column name) reached
    the parquet scan."""
    pf = pushed_filters(df)
    assert any(fragment in p for p in pf), f"no pushed filter mentions {fragment!r}: {pf}"


def exchange_nodes(plan: DataFrame | str) -> list[dict]:
    """Detail blocks of every Exchange node: {'id', 'input', 'arguments'}.
    Lets tests assert WHAT each shuffle carries (payload columns) and on
    WHICH keys it partitions — the difference between a plan that moves
    candidate ids and one that moves the whole corpus payload."""
    plan = _plan_text(plan)
    out = []
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange", block)
        if not m:
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        args = re.search(r"Arguments: (.*)", block)
        out.append({
            "id": int(m.group(1)),
            "input": inp.group(1) if inp else "",
            "arguments": args.group(1) if args else "",
        })
    return out


def assert_max_op(plan: DataFrame | str, op: str, at_most: int) -> None:
    """Bound the occurrences of an operator — e.g. the shingle Generate must
    appear once, not once per LSH band."""
    n = count_op(plan, op)
    assert n <= at_most, f"expected <= {at_most} {op}, plan has {n}"

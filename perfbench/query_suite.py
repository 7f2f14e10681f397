"""``query_suite``: headline queries (``workload.bench_queries()``).

``QUERIES`` is a fixed set of eight of the 27 ``bench=True`` queries, one per
operator family: a TPC-H join and aggregate, a semi-join with a having, a
window, a time rollup, the bloom-prefiltered join, exact dedup, a vector
similarity and a sketch. The whole 27 take some 40 s to warm up and 15 s a
round on four cores, more than one run's time budget. Each round runs every
query of the set once, in an order drawn from the seed, and materialises its
result by collecting it to the driver as Arrow. Outside the
timer, the collected rows are compared, as an order-independent multiset,
with the query's DuckDB oracle over the same parquet files, computed once in
set-up; so every measured run of a query is checked. Set-up runs each query
once, checked the same way, as the warm-up. The table layer does no work
here.
"""

from __future__ import annotations

import os

from .check import diff, multiset
from .harness import Bench, Op, deal

SF = 0.001
QUERIES = (
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "window_top3_orders_per_customer",
    "rollup_time_bucket",
    "join_bloom_prefiltered",
    "dedup_exact",
    "similarity_knn_gemm",
    "sketch_hll_distinct",
)


def setup(bench: Bench) -> None:
    import duckdb

    from go_iceberg_spark.workload import TABLES, bench_queries

    data = os.path.join(bench.work, "data")
    with bench.checking():
        bench.generate(data, SF)
    bench.extra["sf"] = SF
    every = bench_queries()
    specs = {name: every[name] for name in QUERIES}
    oracles = {}
    with bench.checking():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name, spec in specs.items():
            if spec.oracle is not None:
                oracles[name] = multiset(con.execute(spec.oracle).fetch_arrow_table())
        con.close()
    bench.state.update(data=data, specs=specs, oracles=oracles)
    bench.extra["oracle_checked"] = len(oracles)
    for name in sorted(specs):
        bench.warm_op(_op(bench, name))


def _op(bench: Bench, name: str) -> Op:
    spec = bench.state["specs"][name]
    want = bench.state["oracles"].get(name)

    def run(_arg):
        with bench.span("workload.build"):
            df = spec.fn(bench.spark, bench.state["data"])
        bench.mark_eager_jobs()
        if bench.tracing_op:
            # the collect below executes this same query execution, so the
            # plan is made once either way
            with bench.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with bench.span("spark.exec"):
            return df.toArrow()

    def check(_arg, result):
        return None if want is None else diff(result, want)
    return Op(name, run, check=check)


def make_round(bench: Bench, i: int) -> list[Op]:
    return [_op(bench, name) for name, _rng in deal(bench.seed, i, sorted(bench.state["specs"]))]


def finish(bench: Bench) -> None:
    """Nothing to check after the last round: every operation was checked."""

"""Dump the physical plans of the bench headline queries into PLANS.md —
the plan-audit artifact: broadcast placement, pushed filters, read
schemas, and shuffle counts. Per query: the plans of the SQL executions
run while the query was built (eager checkpoints and counts, as final
adaptive plans), then the returned frame's `.explain("formatted")`.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _clip(plan: str) -> str:
    """Cap a plan's size: the literal-heavy ANN plans run to tens of
    thousands of lines, and the bloom bit-test inlines its word-array
    literal (2048 longs) once per probe window. The audit signals (joins,
    exchanges, pushed filters, codegen spans) live in the head, and the
    counts summarize the rest."""
    lines = plan.rstrip().split("\n")
    if len(lines) > 400:
        lines = lines[:400] + [f"... [truncated: {len(lines) - 400} more lines]"]
    return "\n".join(ln if len(ln) <= 800 else ln[:800] + f"... [line truncated: {len(ln)} chars]"
                     for ln in lines)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from go_iceberg_spark.plans.inspect import count_op, executed_plans, formatted_plan
    from go_iceberg_spark.session import get_spark
    from go_iceberg_spark.workload import QUERIES, bench_queries

    # non-bench flagships whose plan shape is a design contract (ANN, text
    # scoring, sampling, clustering, merge, IVM refresh, changelog and
    # sketch operators)
    extra = ["pipeline_curation_end_to_end", "similarity_ivfpq_topk",
             "similarity_pq_topk", "text_bigram_lm_score", "text_bm25_scores",
             "sample_temperature_mix", "dedup_embedding_ivf",
             "dedup_embedding_ivf_gemm", "cluster_kmeans_topics_gemm",
             "crud_merge_not_matched_by_source_scan", "text_dsir_importance",
             "incremental_join_view_refresh_mutable",
             "timeseries_merge_intervals", "sketch_histogram_quantiles",
             "incremental_agg_refresh_mutable", "changelog_eq_delete_scan",
             "sketch_hll_distinct", "incremental_agg_refresh_minmax"]

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — physical plans of the bench headline queries",
           "",
           f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. What to look",
           "for: `BroadcastHashJoin` on dimension sides, `PushedFilters` and",
           "trimmed `ReadSchema` at every parquet scan, `WholeStageCodegen`",
           "spans over the hot expressions, and no `CartesianProduct`.",
           ""]
    to_dump = dict(bench_queries())
    to_dump.update({n: QUERIES[n] for n in extra})
    for name, spec in to_dump.items():
        with executed_plans(spark) as built:
            df = spec.fn(spark, sf_dir)
        out += [f"## {name}", ""]
        for i, plan in enumerate(built + [formatted_plan(df)]):
            title = (f"executed while building ({i + 1}/{len(built)})"
                     if i < len(built) else "returned frame")
            out += [f"### {title}",
                    "",
                    f"Exchanges: {count_op(plan, 'Exchange')} · "
                    f"BroadcastHashJoins: {count_op(plan, 'BroadcastHashJoin')}",
                    "",
                    "```",
                    _clip(plan),
                    "```",
                    ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()

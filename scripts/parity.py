"""Local replica of the driver's correctness gate: run every declared query
on Spark AND its DuckDB oracle on the same parquet, compare row count, column
names, and an order-insensitive value multiset (floats with tolerance).

Usage: python scripts/parity.py [sf_dir] [query ...]
       python scripts/parity.py --bench [sf_dir] [--out artifact.json]

``--bench`` runs the 26 HEADLINE (benched) queries at
sf0.1 by default — ten times the data the driver's sf0.01 gate sees. The
point is the failure class sf0.01 cannot witness: scale-dependent
nondeterminism (localCheckpoint replay in the MMR greedy, bloom
false-positive survivors feeding a later join, partition-count-sensitive
tie-breaks). Writes a per-query JSON artifact the driver can diff."""

from __future__ import annotations

import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize_cell(v):
    import datetime as dt
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        return ("f", round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, pd.Timestamp):
        return ("t", v.isoformat())
    if isinstance(v, dt.datetime):
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("t", v.isoformat())
    if isinstance(v, (list, np.ndarray)):
        return tuple(normalize_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def df_to_multiset(pdf):
    # column-wise extraction: iterrows() would promote mixed dtypes to float
    cols = sorted(pdf.columns)
    data = [pdf[c].tolist() for c in cols]
    rows = [tuple(normalize_cell(v) for v in row) for row in zip(*data)] if data else []
    return cols, sorted(rows, key=repr)


def run_parity(sf_dir: str, names: list[str] | None = None,
               results: dict | None = None) -> int:
    import duckdb

    from go_iceberg_spark.session import get_spark
    from go_iceberg_spark.workload import QUERIES, TABLES

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0

    def record(name, status, detail):
        if results is not None:
            results[name] = {"status": status, **detail}

    for name, spec in QUERIES.items():
        if names and name not in names:
            continue
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            record(name, "spark_error", {})
            failures += 1
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows={len(sdf)} (no oracle — rows-only)")
            record(name, "rows_only", {"rows": len(sdf)})
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            record(name, "duckdb_error", {})
            failures += 1
            continue
        s_cols, s_rows = df_to_multiset(sdf)
        o_cols, o_rows = df_to_multiset(odf)
        if s_cols != o_cols:
            print(f"FAIL {name}: columns {s_cols} != {o_cols}")
            record(name, "schema_mismatch", {"spark": s_cols, "oracle": o_cols})
            failures += 1
            continue
        if len(s_rows) != len(o_rows):
            print(f"FAIL {name}: rowcount {len(s_rows)} != {len(o_rows)}")
            record(name, "rowcount_mismatch",
                   {"spark": len(s_rows), "oracle": len(o_rows)})
            failures += 1
            continue
        bad = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
        if bad:
            i = bad[0]
            print(f"FAIL {name}: {len(bad)} mismatched rows; first at {i}:\n  spark={s_rows[i]}\n  duck ={o_rows[i]}")
            record(name, "value_mismatch", {"mismatched_rows": len(bad)})
            failures += 1
            continue
        print(f"ok   {name}: rows={len(s_rows)} hash-match")
        record(name, "hash_match", {"rows": len(s_rows)})
    return failures


def main(argv: list[str]) -> int:
    if "--bench" in argv:
        import json

        argv = [a for a in argv if a != "--bench"]
        out = "PARITY_BENCH_SF01.json"
        if "--out" in argv:
            i = argv.index("--out")
            out = argv[i + 1]
            del argv[i : i + 2]
        sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
        from go_iceberg_spark.workload import bench_queries

        names = list(bench_queries())
        results: dict = {}
        failures = run_parity(sf_dir, names, results=results)
        artifact = {
            "metric": "parity_bench", "sf_dir": sf_dir,
            "queries": len(names),
            "hash_match": sum(1 for r in results.values() if r["status"] == "hash_match"),
            "failures": failures, "per_query": results,
        }
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), out)
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(json.dumps({k: artifact[k] for k in
                          ("metric", "sf_dir", "queries", "hash_match", "failures")}))
        return 1 if failures else 0
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    names = argv[1:] or None
    return 1 if run_parity(sf_dir, names) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

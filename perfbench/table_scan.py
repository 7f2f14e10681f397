"""``table_scan``: scan planning at metadata scale.

The table holds the real ``orders`` files plus 550k metadata-only phantom
entries, built the way the ``distributed_plan_scan`` query builds them and
committed clustered: sorted by their ``o_orderkey`` lower bound and chunked
into members of ``MEMBER_ENTRIES`` entries, the layout
``rewrite_manifests(target_entries_per_manifest=MEMBER_ENTRIES)`` produces.
Phantom ``o_orderkey`` ranges lie above every real key. Each phantom's
``o_custkey`` bounds lie wholly below or wholly above the real customer keys,
so a ``o_custkey`` lookup can skip no member yet prunes every phantom.

Each round is one operation of each of eight kinds, in a seeded order;
the planning tier each kind should take is in brackets:

- ``point`` and ``range``: a point and a narrow range lookup on
  ``o_orderkey`` (member skip, memory);
- ``wide``: a range lookup from a real key into three phantom members, with
  a ``o_custkey`` band (driver prune, above the 10k-entry cache limit);
- ``out_of_range``: a lookup beyond every key (snapshot bounds skip);
- ``unclustered``: a ``o_custkey`` lookup (all ~550k entries: the
  distributed tier);
- ``count``: a ``metadata_count`` call;
- ``cold_point`` and ``cold_count``: a point lookup and a ``metadata_count``
  call through a freshly loaded table handle, whose manifest cache is empty.

The mix is not measured traffic: each kind comes once a round, so every
kind gets the same number of samples and each tier is reached every round.

The table does not depend on ``--seed`` (the lookups do), and nothing here
writes to it, so it is built once per checkout, in a child process, under
``.perfbench/cache/`` keyed on a hash of the package's and the benchmark's
sources (a change to either rebuilds it). Its build time is reported as
``fixture_build_s`` and kept out of ``setup_s``.

    python3 -m perfbench.table_scan --build DIR --sf SF

builds the table under ``DIR`` on its own Spark session.

Every lookup's rows must equal DuckDB's rows for the same filter over the
real parquet files. Phantom files do not exist, so a plan that keeps one
fails when the scan reads it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys
import time

from .check import diff
from .datagen import generate
from .harness import Bench, Op, deal, percentile

PHANTOMS = 550_000
MEMBER_ENTRIES = 4_000
BASE = 10_000_000  # first phantom o_orderkey; real keys stay below it
SPAN = 10  # o_orderkey values per phantom entry
HIGH_CUST = 1_000_000_000
FIXTURE_SEED = 0


def _phantoms(location: str, real, okf: int, ckf: int):
    from go_iceberg_spark.table.metadata import DataFileEntry

    seq = max(e.sequence_number for e in real) + 1
    sid = real[0].schema_id
    low = {"min": -1_000, "max": -1, "null_count": 0, "value_count": 100}
    high = {"min": HIGH_CUST, "max": HIGH_CUST + 1_000, "null_count": 0, "value_count": 100}
    out = []
    for i in range(PHANTOMS):
        lo = BASE + i * SPAN
        out.append(DataFileEntry(
            content=0, file_path=f"{location}/data/phantom-{i:06d}.parquet",
            file_format="parquet", spec_id=0, schema_id=sid, record_count=100,
            file_size=1024, partition={},
            column_stats={okf: {"min": lo, "max": lo + SPAN - 1, "null_count": 0,
                                "value_count": 100},
                          ckf: high if i % 2 else low},
            sequence_number=seq))
    return out


def _build(root: str, spark, sf: float) -> dict:
    """Generate the real orders files and commit the table with its phantoms
    under ``root``; returns the row counts."""
    from go_iceberg_spark.catalog.catalog import FilesystemCatalog
    from go_iceberg_spark.schema import from_spark_schema

    counts = generate(os.path.join(root, "data"), FIXTURE_SEED, sf,
                      only=("orders", "customer"), files=8)
    catalog = FilesystemCatalog(spark, os.path.join(root, "warehouse"))
    df = spark.read.parquet(os.path.join(root, "data", "orders"))
    table = catalog.create_table(("bench",), "orders", from_spark_schema(df.schema),
                                 properties={"manifest-format": "parquet"})
    table.append(df)
    real = table.manifest_entries(table.current_snapshot())
    fid = {f.name: f.field_id for f in table.metadata.current_schema.fields}
    phantoms = _phantoms(table.location, real, fid["o_orderkey"], fid["o_custkey"])
    groups = [real] + [phantoms[i:i + MEMBER_ENTRIES]
                       for i in range(0, len(phantoms), MEMBER_ENTRIES)]
    table._commit_snapshot("append", real + phantoms, manifest_groups=groups)
    return counts


def _source_key(root: str) -> str:
    """Hash of the package's sources and of the files that shape the table."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "perfbench", f) for f in ("table_scan.py", "datagen.py")]
    for dirpath, dirs, files in os.walk(os.path.join(root, "go_iceberg_spark")):
        dirs.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _sf(bench: Bench) -> float:
    return 0.001 if bench.smoke else 0.1


def prepare(bench: Bench) -> None:
    """Find the table built by the current sources, or build it."""
    sf = _sf(bench)
    cache = os.path.join(bench.root, ".perfbench", "cache")
    prefix = f"table_scan-sf{sf}-"
    root = os.path.join(cache, prefix + _source_key(bench.root))
    if not os.path.exists(os.path.join(root, "READY")):
        # tables built by other sources are stale
        for name in os.listdir(cache) if os.path.isdir(cache) else []:
            if name.startswith(prefix):
                shutil.rmtree(os.path.join(cache, name), ignore_errors=True)
        bench.child("table_scan", "--build", root, "--sf", str(sf))
    bench.state["root"] = root


def setup(bench: Bench) -> None:
    import duckdb

    from go_iceberg_spark.catalog.catalog import FilesystemCatalog

    bench.extra["sf"] = _sf(bench)
    root = bench.state["root"]
    with open(os.path.join(root, "READY")) as f:
        built = json.load(f)
    bench.extra["fixture_build_s"] = built["build_s"]
    counts = built["counts"]
    with bench.checking():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW o AS SELECT * FROM "
                    f"read_parquet('{root}/data/orders/*.parquet')")
    catalog = FilesystemCatalog(bench.spark, os.path.join(root, "warehouse"))
    bench.state.update(
        con=con, catalog=catalog, table=catalog.load_table(("bench",), "orders"),
        n_orders=counts["orders"], n_cust=counts["customer"],
        count=counts["orders"] + 100 * PHANTOMS,
    )
    for kind in WARM:
        bench.warm_op(_op(bench, kind, random.Random(f"{bench.seed}/warm/{kind}")))


def _filter(kind: str, rng: random.Random, st: dict):
    """(expression, equivalent SQL predicate) for a lookup kind."""
    from go_iceberg_spark.expr import and_, col

    n, c = st["n_orders"], st["n_cust"]
    if kind in ("point", "cold_point"):
        k = rng.randrange(n)
        return col("o_orderkey").eq(k), f"o_orderkey = {k}"
    if kind == "range":
        k = rng.randrange(n)
        return col("o_orderkey").between(k, k + 500), f"o_orderkey BETWEEN {k} AND {k + 500}"
    if kind == "wide":
        k, cust = rng.randrange(n), rng.randrange(c)
        hi = BASE + 3 * MEMBER_ENTRIES * SPAN - 1
        return (and_(col("o_orderkey").between(k, hi), col("o_custkey").between(cust, cust + 50)),
                f"o_orderkey BETWEEN {k} AND {hi} AND o_custkey BETWEEN {cust} AND {cust + 50}")
    if kind == "out_of_range":
        if rng.random() < 0.5:
            k = BASE + PHANTOMS * SPAN + rng.randrange(1_000_000)
            return col("o_orderkey").gt(k), f"o_orderkey > {k}"
        k = -rng.randrange(1, 1_000_000)
        return col("o_orderkey").lt(k), f"o_orderkey < {k}"
    if kind == "unclustered":
        cust = rng.randrange(c)
        return col("o_custkey").eq(cust), f"o_custkey = {cust}"
    raise ValueError(kind)


def _op(bench: Bench, kind: str, rng: random.Random) -> Op:
    st = bench.state
    cold = kind.startswith("cold_")

    def handle():
        return st["catalog"].load_table(("bench",), "orders") if cold else st["table"]

    if kind.endswith("count"):
        def check(_arg, result):
            return None if result == st["count"] else f"count {result}, expected {st['count']}"
        return Op(kind, lambda _arg: handle().scan().metadata_count(), check=check)

    expr, sql = _filter(kind, rng, st)

    def check(_arg, result):
        return diff(result, st["con"].execute(f"SELECT * FROM o WHERE {sql}").fetch_arrow_table())
    return Op(kind, lambda _arg: handle().scan().filter(expr).to_df().toArrow(), check=check)


DECK = ("point", "range", "wide", "out_of_range", "unclustered", "count", "cold_point",
        "cold_count")
# one warm-up per planning path; the cold kinds and ranges share them
WARM = ("point", "wide", "out_of_range", "unclustered", "count")


def make_round(bench: Bench, i: int) -> list[Op]:
    return [_op(bench, kind, rng) for kind, rng in deal(bench.seed, i, DECK)]


def finish(bench: Bench) -> None:
    bench.extra["reported_metrics"] = {
        "cold_scan_latency_p50_s": percentile(
            bench.kind_latencies(("cold_point", "cold_count")), 0.5),
    }
    bench.state["con"].close()


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Build the table_scan table.")
    p.add_argument("--build", required=True, metavar="DIR")
    p.add_argument("--sf", type=float, required=True)
    args = p.parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(args.build + ".work")
    bench = Bench("table_scan-build", FIXTURE_SEED, 0, False, False, root, work)
    t0 = time.perf_counter()
    bench.start_session()
    try:
        counts = _build(args.build, bench.spark, args.sf)
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(args.build, "READY"), "w") as f:
        json.dump({"counts": counts, "build_s": time.perf_counter() - t0}, f)
    print(json.dumps(counts))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""``table_ingest``: the write path of one table, with reads beside it.

A ``FilesystemCatalog`` table (default ``manifest-format=dual``) is seeded
from ``lineitem``. Each round is 10 operations: 6 appends of ~2k rows, a
merge-on-read delete, a copy-on-write delete, an upsert of 500 rows on
``(l_orderkey, l_linenumber)`` within a window of ~170 orders, and a
filtered read, in a seeded order, then one maintenance cycle
(``rewrite_position_deletes``, ``rewrite_data_files(binpack=True)``,
``rewrite_manifests``, ``expire_snapshots``). The snapshot chain grows over
the run.

A DuckDB model applies the same operations. Every read must return the
model's rows, and the final table must match it on row count and on sums
over every key and value column.
"""

from __future__ import annotations

import os
import random
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .check import diff
from .datagen import lineitem_batch, sizes
from .harness import Bench, Op, deal, percentile

SF = 0.01
KEYS = ["l_orderkey", "l_linenumber"]
SEED_FILES = 8
# order of summed columns in the final-state check
SUMS = [
    "count(*)",
    "sum((l_orderkey * 1000003 + l_linenumber * 10007 + l_partkey * 101 + l_suppkey) % 1000000007)",
    "sum(cast(round(l_extendedprice * 100) as bigint))",
    "sum(cast(l_quantity as bigint))",
    "sum(cast(round(l_discount * 100) as bigint))",
    "sum(cast(round(l_tax * 100) as bigint))",
    "sum(case l_returnflag when 'A' then 1 when 'N' then 2 else 3 end)",
    "sum(case l_linestatus when 'F' then 1 else 2 end)",
]


def _data_files(location: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(location, "data")):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def _tree_bytes(location: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(location):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def setup(bench: Bench) -> None:
    import duckdb

    from go_iceberg_spark.catalog.catalog import FilesystemCatalog
    from go_iceberg_spark.schema import from_spark_schema

    sf = 0.001 if bench.smoke else SF
    bench.extra["sf"] = sf
    data = os.path.join(bench.work, "data")
    with bench.checking():
        bench.generate(data, sf, only=("lineitem",), files=SEED_FILES)
        con = duckdb.connect()
        con.execute(f"CREATE TABLE m AS SELECT * FROM read_parquet('{data}/lineitem/*.parquet')")
        next_key = con.execute("SELECT max(l_orderkey) + 1 FROM m").fetchone()[0]

    spark = bench.spark
    catalog = FilesystemCatalog(spark, os.path.join(bench.work, "warehouse"))
    seed_df = spark.read.parquet(os.path.join(data, "lineitem"))
    with bench.setup_span("fixture"):
        table = catalog.create_table(("bench",), "lineitem", from_spark_schema(seed_df.schema))
        table.append(seed_df)
    files = _data_files(table.location)
    n = sizes(sf)
    bench.state.update(
        con=con, table=table, batches=os.path.join(bench.work, "batches"),
        next_key=next_key, n_part=n["part"], n_supp=n["supplier"],
        user_bytes=sum(files.values()),
        # binpack band centred on the seed files: appended small files are
        # compacted, seed-sized files stay
        target_bytes=int(statistics.median(files.values())),
    )
    os.makedirs(bench.state["batches"], exist_ok=True)
    for kind in ("append", "mor_delete", "cow_delete", "upsert", "read", "maintenance"):
        bench.warm_op(_op(bench, kind, random.Random(f"{bench.seed}/warm/{kind}")))


def _batch(bench: Bench, rng: random.Random, name: str, keys=None) -> tuple[str, object]:
    """Write a batch of lineitem rows as parquet; new orders unless ``keys``
    (existing ``(orderkey, linenumber)`` pairs) is given."""
    st = bench.state
    g = np.random.default_rng(rng.getrandbits(63))
    if keys is None:
        n_orders = 8 if bench.smoke else 500
        okeys = np.arange(st["next_key"], st["next_key"] + n_orders, dtype=np.int64)
        st["next_key"] += n_orders
        t = lineitem_batch(g, okeys, g.integers(0, 2404, n_orders), st["n_part"], st["n_supp"])
    else:
        t = lineitem_batch(g, np.array([k for k, _ in keys], dtype=np.int64),
                           g.integers(0, 2404, len(keys)), st["n_part"], st["n_supp"],
                           max_lines=1)
        t = t.set_column(t.schema.get_field_index("l_linenumber"), "l_linenumber",
                         pa.array([ln for _, ln in keys], pa.int32()))
    path = os.path.join(st["batches"], f"{name}.parquet")
    pq.write_table(t, path)
    return path, bench.spark.read.parquet(path)


def _op(bench: Bench, kind: str, rng: random.Random) -> Op:
    from go_iceberg_spark.expr import and_, col

    st = bench.state
    table, con = st["table"], st["con"]
    tag = f"{kind}-{rng.getrandbits(40):x}"

    def key_range(width: int) -> tuple[int, int]:
        lo = rng.randrange(0, max(1, st["next_key"] - width))
        return lo, lo + width

    if kind == "append":
        def prepare():
            before = _data_files(table.location)
            path, df = _batch(bench, rng, tag)
            return before, path, df

        def check(arg, _result):
            before, path, _df = arg
            con.execute(f"INSERT INTO m SELECT * FROM read_parquet('{path}')")
            st["user_bytes"] += sum(size for p, size in _data_files(table.location).items()
                                    if p not in before)
            return None
        return Op(kind, lambda arg: table.append(arg[2]), prepare, check)

    if kind in ("mor_delete", "cow_delete"):
        mode = "merge-on-read" if kind == "mor_delete" else "copy-on-write"

        def prepare():
            return key_range(30)

        def check(arg, _result):
            con.execute("DELETE FROM m WHERE l_orderkey BETWEEN ? AND ?", list(arg))
            return None
        return Op(kind, lambda arg: table.delete(col("l_orderkey").between(*arg), mode=mode),
                  prepare, check)

    if kind == "upsert":
        def prepare():
            # updates and inserts cluster on a window of recent-looking
            # orders, so an upsert rewrites the few files that hold them
            n = 8 if bench.smoke else 500
            lo, hi = key_range(n // 3)
            keys = set()
            while len(keys) < n:
                keys.add((rng.randint(lo, hi), rng.randint(1, 7)))
            return _batch(bench, rng, tag, sorted(keys))

        def check(arg, _result):
            path = arg[0]
            con.execute(f"DELETE FROM m USING read_parquet('{path}') s WHERE "
                        f"m.l_orderkey = s.l_orderkey AND m.l_linenumber = s.l_linenumber")
            con.execute(f"INSERT INTO m SELECT * FROM read_parquet('{path}')")
            return None
        return Op(kind, lambda arg: table.upsert(arg[1], key_columns=KEYS), prepare, check)

    if kind == "read":
        def prepare():
            lo, hi = key_range(400)
            return lo, hi, float(rng.randint(10, 40))

        def run(arg):
            lo, hi, q = arg
            f = and_(col("l_orderkey").between(lo, hi), col("l_quantity").lt(q))
            return table.scan().filter(f).to_df().toArrow()

        def check(arg, result):
            want = con.execute("SELECT * FROM m WHERE l_orderkey BETWEEN ? AND ? "
                               "AND l_quantity < ?", list(arg)).fetch_arrow_table()
            return diff(result, want)
        return Op(kind, run, prepare, check)

    if kind == "maintenance":
        def run(_arg):
            table.rewrite_position_deletes()
            table.rewrite_data_files(binpack=True, target_file_size_bytes=st["target_bytes"])
            table.rewrite_manifests()
            table.expire_snapshots(retain_last=20)
        return Op(kind, run)
    raise ValueError(kind)


DECK = ["append"] * 6 + ["mor_delete", "cow_delete", "upsert", "read"]


def make_round(bench: Bench, i: int) -> list[Op]:
    return [_op(bench, kind, rng) for kind, rng in deal(bench.seed, i, DECK, ["maintenance"])]


def finish(bench: Bench) -> None:
    from pyspark.sql import functions as F

    st = bench.state
    table, con = st["table"], st["con"]
    got = table.to_df().agg(*[F.expr(s) for s in SUMS]).collect()[0]
    with bench.checking():
        want = con.execute(f"SELECT {', '.join(SUMS)} FROM m").fetchone()
        if tuple(int(v or 0) for v in got) != tuple(int(v or 0) for v in want):
            bench.fail_check("final state", f"table sums {tuple(got)} != model {want}")
    ratio = _tree_bytes(table.location) / st["user_bytes"]
    bench.extra["layer_extra"] = {"table.write.bytes_per_user_byte": ratio}
    lat = {k: sorted(bench.kind_latencies(k)) for k in ("append", "mor_delete", "cow_delete",
                                                         "upsert", "read")}
    mutate = lat["mor_delete"] + lat["cow_delete"] + lat["upsert"]
    bench.extra["reported_metrics"] = {
        "append_latency_p50_s": percentile(lat["append"], 0.5),
        "append_latency_p90_s": percentile(lat["append"], 0.9),
        "mutate_latency_p50_s": percentile(mutate, 0.5),
        "mutate_latency_p90_s": percentile(mutate, 0.9),
        "read_latency_p50_s": percentile(lat["read"], 0.5),
        "bytes_written_per_user_byte": ratio,
    }
    con.close()

"""Commit fan-in soak (r12, VERDICT r11 task #6): 8 concurrent writers
running MIXED operations — appends, copy-on-write update, merge-on-read
delete, data-file compaction, snapshot expiry — against ONE table, on every
catalog implementation (local filesystem O_EXCL, moto S3 conditional PUT,
REST with server-side optimistic concurrency).

The pairwise conflict paths are fuzz-covered elsewhere; this soak is the
FAN-IN shape a busy production table sees: maintenance jobs racing
ingestion. Asserts zero lost updates (exact final row multiset, derived
from the ops' disjoint key ranges), bounded retries (every writer finishes
under its max_retries budget or the test fails on its error), and a linear
snapshot history (strictly increasing sequence numbers, unbroken parent
chain from current back to the expiry horizon).
"""

from __future__ import annotations

import threading

import pytest

pytestmark = pytest.mark.soak  # r13: soak lane (see pytest.ini)
from pyspark.sql import Row

import go_iceberg_spark as gi
from go_iceberg_spark.schema import from_spark_schema

N_APPENDERS = 4
APPENDS_EACH = 2
ROWS_EACH = 25


def _seed(spark):
    return spark.createDataFrame(
        [Row(id=i, v=float(i), tag="seed") for i in range(100)],
        "id long, v double, tag string")


def _run_mixed_soak(spark, catalog, name: str):
    catalog.create_table("db", name, from_spark_schema(_seed(spark).schema))
    seeded = catalog.load_table("db", name)
    seeded.append(_seed(spark))
    errors: list[Exception] = []
    barrier = threading.Barrier(8)

    def appender(k: int):
        h = catalog.load_table("db", name)
        h.max_retries = 80
        barrier.wait(timeout=120)
        for j in range(APPENDS_EACH):
            base = 1000 * (k + 1) + j * ROWS_EACH
            h.append(spark.createDataFrame(
                [Row(id=base + i, v=1.0, tag=f"w{k}") for i in range(ROWS_EACH)],
                "id long, v double, tag string"))

    def mor_deleter():
        h = catalog.load_table("db", name)
        h.max_retries = 80
        barrier.wait(timeout=120)
        h.delete(gi.lt("id", 10), mode="merge-on-read")

    def updater():
        h = catalog.load_table("db", name)
        h.max_retries = 80
        barrier.wait(timeout=120)
        h.update(gi.and_(gi.gte("id", 90), gi.lt("id", 100)), {"v": -1.0})

    def compactor():
        h = catalog.load_table("db", name)
        h.max_retries = 80
        barrier.wait(timeout=120)
        h.rewrite_data_files()

    def expirer():
        h = catalog.load_table("db", name)
        h.max_retries = 80
        barrier.wait(timeout=120)
        h.expire_snapshots(retain_last=5)

    def wrap(fn, *a):
        def run():
            try:
                fn(*a)
            except Exception as e:  # pragma: no cover - surfaced by assert
                errors.append(e)
        return run

    jobs = [wrap(appender, k) for k in range(N_APPENDERS)]
    jobs += [wrap(mor_deleter), wrap(updater), wrap(compactor), wrap(expirer)]
    threads = [threading.Thread(target=j) for j in jobs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=900)
    assert not any(th.is_alive() for th in threads), "soak writer hung"
    assert not errors, errors

    t = catalog.load_table("db", name)
    # zero lost updates: ids 0..9 MoR-deleted, 90..99 updated to v=-1,
    # every appended block present exactly once — key ranges are disjoint
    # so the final multiset is order-independent
    rows = {(r.id, r.v, r.tag) for r in t.to_df().collect()}
    expected = {(i, -1.0 if i >= 90 else float(i), "seed") for i in range(10, 100)}
    for k in range(N_APPENDERS):
        for j in range(APPENDS_EACH):
            base = 1000 * (k + 1) + j * ROWS_EACH
            expected |= {(base + i, 1.0, f"w{k}") for i in range(ROWS_EACH)}
    assert rows == expected, (
        f"lost/extra rows: missing={sorted(expected - rows)[:5]} "
        f"extra={sorted(rows - expected)[:5]}")

    # linear history: strictly increasing sequence numbers, unbroken parent
    # chain from current back to the (expired) horizon
    snaps = t.snapshots()
    seqs = [s.sequence_number for s in snaps]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs), seqs
    by_id = {s.snapshot_id: s for s in snaps}
    cur, hops = t.current_snapshot(), 0
    while cur.parent_snapshot_id is not None and cur.parent_snapshot_id in by_id:
        cur = by_id[cur.parent_snapshot_id]
        hops += 1
    assert hops == len(snaps) - 1, "parent chain broken inside retained history"
    # committed ops: 8 appends + delete + update + compaction (+/- expiry
    # trimming) — at least the post-expiry retained window must be there
    assert len(snaps) >= 5
    return t


def test_fanin_mixed_ops_local_fs(spark, catalog):
    _run_mixed_soak(spark, catalog, "fanin_local")


def test_fanin_mixed_ops_s3(spark, tmp_path):
    moto = pytest.importorskip("moto")
    import boto3

    from go_iceberg_spark.catalog.catalog import FilesystemCatalog
    from go_iceberg_spark.io.fileio import S3FileIO

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="fanin")
        io = S3FileIO(client=client)
        cat = FilesystemCatalog(spark, "s3://fanin/wh", io=io,
                                data_path=str(tmp_path / "dataroot"))
        _run_mixed_soak(spark, cat, "fanin_s3")


def test_fanin_mixed_ops_rest(spark, tmp_path):
    from go_iceberg_spark.catalog.rest import RESTCatalog
    from go_iceberg_spark.catalog.rest_server import serve_background

    srv, uri = serve_background(str(tmp_path / "wh"))
    try:
        cat = RESTCatalog(spark, uri)
        _run_mixed_soak(spark, cat, "fanin_rest")
    finally:
        srv.shutdown()

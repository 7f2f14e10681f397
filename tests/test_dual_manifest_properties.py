"""Property test: the parquet manifest tree and the Iceberg Avro tree are
EQUIVALENT views of every snapshot.

Dual-manifest mode writes both dialects incrementally with independent
reuse/rewrite/compaction decisions; a divergence would mean external Iceberg
readers (which walk the Avro tree) see a different table than the engine
(which scans via the parquet tree). Randomized CRUD sequences must keep
them in lockstep — same file sets, same sequence numbers, same stats, at
EVERY snapshot (current and historical).
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import Row

import go_iceberg_spark as gi
from go_iceberg_spark.schema import from_spark_schema
from go_iceberg_spark.table.manifest_avro import read_avro_manifest_tree
from test_manifest_tree import assert_current_layout

SEED = 414243
N_OPS = 14


def _entry_key(e):
    return (
        e.file_path, e.content, e.sequence_number, e.record_count,
        e.schema_id, tuple(sorted(e.equality_ids)),
        tuple(sorted((fid, s.get("min"), s.get("max"), s.get("null_count"),
                      s.get("value_count")) for fid, s in e.column_stats.items())),
    )


def _assert_trees_agree(t, snap):
    parquet_entries = {_entry_key(e) for e in t.manifest_entries(snap)}
    avro_rel = snap.avro_manifest_path
    assert avro_rel is not None, "dual mode must stamp every snapshot's avro tree"
    avro_entries = {_entry_key(e)
                    for e in read_avro_manifest_tree(t.location, avro_rel)}
    assert parquet_entries == avro_entries, (
        f"dialect divergence at snapshot {snap.snapshot_id}: "
        f"parquet-only={sorted(parquet_entries - avro_entries)[:3]} "
        f"avro-only={sorted(avro_entries - parquet_entries)[:3]}"
    )


@pytest.mark.soak
def test_dialects_agree_across_random_crud(spark, catalog):
    rng = random.Random(SEED)
    proto = spark.createDataFrame([Row(id=0, v=0.0, tag="s")])
    t = catalog.create_table("db", "dualprop", from_spark_schema(proto.schema))
    next_id = [0]

    evolved = [0]

    def batch(n):
        from pyspark.sql import functions as F

        rows = [Row(id=next_id[0] + i, v=float(rng.randint(0, 50)),
                    tag=rng.choice("abc")) for i in range(n)]
        next_id[0] += n
        df = spark.createDataFrame(rows)
        for j in range(evolved[0]):  # fill columns added by evolution
            df = df.withColumn(f"x{j + 1}", F.lit(j).cast("long"))
        return df

    t.append(batch(20))
    ops_run = []
    for step in range(N_OPS):
        op = rng.choice(["append", "cow_delete", "mor_delete", "eq_delete", "update"])
        if step in (4, 9):  # deterministic: two schema evolutions mid-sequence
            op = "evolve"
        if op == "evolve":
            # schema evolution: later appends write under a NEW schema id, so
            # the avro tree must group entries per (content, schema) and keep
            # per-member schema metadata consistent with the parquet dialect
            evolved[0] += 1
            t.update_schema().add_column(f"x{evolved[0]}", gi.LONG).commit()
            op = "append"  # evolution commits no files; follow with data
        if op == "append":
            t.append(batch(rng.randint(1, 15)))
        elif op == "cow_delete":
            t.delete(gi.lt("id", rng.randint(0, next_id[0])))
        elif op == "mor_delete":
            t.delete(gi.eq("tag", rng.choice("abc")), mode="merge-on-read")
        elif op == "eq_delete":
            from go_iceberg_spark.table.transaction import delete_equality

            keys = spark.createDataFrame(
                [Row(id=rng.randint(0, max(next_id[0], 1))) for _ in range(3)])
            delete_equality(t, keys, ["id"])
        else:
            t.update(gi.gt("v", float(rng.randint(0, 50))), {"v": -1.0})
        ops_run.append(op)
        _assert_trees_agree(t, t.current_snapshot())
        # row counts through BOTH dialect paths agree with the live scan
        if step % 4 == 0:
            n_scan = t.scan().count()
            avro_live = read_avro_manifest_tree(
                t.location, t.current_snapshot().avro_manifest_path)
            data_rows = sum(e.record_count for e in avro_live if e.content == 0)
            assert data_rows >= n_scan  # MoR deletes subtract at scan time

    # every HISTORICAL snapshot still has both dialects intact (time travel
    # for external readers too)
    for snap in t.snapshots():
        _assert_trees_agree(t, snap)
        assert_current_layout(t, snap)
    assert len(set(ops_run)) >= 4, f"seed exercised too few op kinds: {ops_run}"


@pytest.mark.soak
def test_avro_tree_compacts_past_threshold(spark, catalog):
    """Many appends: the avro member list is bounded by the compaction
    threshold, and the compacted tree still matches the parquet dialect."""
    from go_iceberg_spark.avro import read_ocf
    from go_iceberg_spark.table.manifest_avro import AVRO_COMPACT_THRESHOLD

    proto = spark.createDataFrame([Row(id=0)])
    t = catalog.create_table("db", "dualcompact", from_spark_schema(proto.schema))
    for i in range(AVRO_COMPACT_THRESHOLD + 4):
        t.append(spark.createDataFrame([Row(id=i)]))
    snap = t.current_snapshot()
    _, _, mfs = read_ocf(os.path.join(t.location, snap.avro_manifest_path))
    assert len(mfs) <= AVRO_COMPACT_THRESHOLD
    _assert_trees_agree(t, snap)
    assert t.scan().count() == AVRO_COMPACT_THRESHOLD + 4


def test_typed_partition_roundtrip_fuzz():
    """Property fuzz (r4): engine path-string -> spec typed value -> back is
    the identity for every typed transform/type pair — the conversion pair
    the Avro wire depends on (_partition_value_to_typed /
    _typed_to_partition_value). Runs driver-only, no Spark."""
    import datetime as dt
    import uuid as uuid_mod

    from hypothesis import given, settings, strategies as st

    from go_iceberg_spark.schema import PrimitiveType
    from go_iceberg_spark.table.manifest_avro import (
        _partition_value_to_typed,
        _typed_to_partition_value,
    )
    from go_iceberg_spark.table.metadata import PartitionField

    INT = PrimitiveType("int")
    LONG = PrimitiveType("long")
    STR = PrimitiveType("string")
    DATE = PrimitiveType("date")
    UUIDT = PrimitiveType("uuid")

    def pf(transform):
        return PartitionField(1, 1000, transform, "p")

    dates = st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2200, 12, 31))

    @given(st.integers(min_value=-(2**62), max_value=2**62))
    @settings(max_examples=300, deadline=None)
    def longs_roundtrip(v):
        for transform, t in [("identity", LONG), ("truncate[100]", LONG), ("bucket[16]", INT)]:
            s = str(v if transform != "bucket[16]" else abs(v) % 16)
            f = pf(transform)
            typed = _partition_value_to_typed(f, t, s)
            assert _typed_to_partition_value(f, t, typed) == s

    @given(dates)
    @settings(max_examples=300, deadline=None)
    def date_transforms_roundtrip(d):
        cases = [
            ("identity", DATE, d.isoformat()),
            ("day", DATE, d.isoformat()),
            ("year", INT, f"{d.year}"),
            ("month", INT, f"{d.year:04d}-{d.month:02d}"),
            ("hour", INT, f"{d.isoformat()}-07"),
        ]
        for transform, t, s in cases:
            f = pf(transform)
            typed = _partition_value_to_typed(f, t, s)
            assert isinstance(typed, int), (transform, s)
            assert _typed_to_partition_value(f, t, typed) == s

    @given(st.text(min_size=0, max_size=40))
    @settings(max_examples=200, deadline=None)
    def strings_roundtrip(s):
        f = pf("identity")
        typed = _partition_value_to_typed(f, STR, s)
        assert _typed_to_partition_value(f, STR, typed) == s

    @given(st.uuids())
    @settings(max_examples=100, deadline=None)
    def uuids_roundtrip(u):
        f = pf("identity")
        typed = _partition_value_to_typed(f, UUIDT, str(u))
        assert isinstance(typed, bytes) and len(typed) == 16
        assert _typed_to_partition_value(f, UUIDT, typed) == str(u)

    longs_roundtrip()
    date_transforms_roundtrip()
    strings_roundtrip()
    uuids_roundtrip()

"""Incremental manifest layout: append commits write O(added) metadata and
REUSE parent member manifests; deletes rewrite only affected members; the
member list compacts past a threshold; every commit writes the one member
and list-record layout the readers rely on."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

import go_iceberg_spark as gi
from go_iceberg_spark.table.metadata import (
    MANIFEST_LIST_SUFFIX,
    read_manifest_list,
)


def mk(spark, catalog, name):
    from go_iceberg_spark.schema import from_spark_schema

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(10)])
    t = catalog.create_table("db", name, from_spark_schema(df.schema))
    t.append(df)
    return t


def members_of(t):
    snap = t.current_snapshot()
    assert snap.manifest_path.endswith(MANIFEST_LIST_SUFFIX)
    return read_manifest_list(os.path.join(t.location, snap.manifest_path))


# per-field arrays whose elements entry building reads without a None check
_INDEXED_STATS = ("stats_fids", "stats_min_json", "stats_max_json", "stats_blooms",
                  "stats_nan_counts", "stats_bounds_exact")


def assert_current_layout(t, snap):
    """The layout the manifest readers assume: the snapshot names a
    manifest list, every record of which has path, n, nd and bounds, and
    every parquet member it names has every ``_MANIFEST_ARROW_SCHEMA``
    column, non-null in every row."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from go_iceberg_spark.table.metadata import _MANIFEST_ARROW_SCHEMA

    assert snap.manifest_path.endswith(MANIFEST_LIST_SUFFIX), snap.manifest_path
    for m in read_manifest_list(os.path.join(t.location, snap.manifest_path)):
        assert {"path", "n", "nd", "bounds"} <= set(m), m
        tbl = pq.read_table(os.path.join(t.location, m["path"]))
        assert [(f.name, f.type) for f in tbl.schema] == \
            [(f.name, f.type) for f in _MANIFEST_ARROW_SCHEMA], m["path"]
        for name in _MANIFEST_ARROW_SCHEMA.names:
            assert tbl.column(name).null_count == 0, (m["path"], name)
        for name in _INDEXED_STATS:
            assert pc.list_flatten(tbl.column(name)).null_count == 0, (m["path"], name)
        n_deletes = sum(1 for c in tbl.column("content").to_pylist() if c != 0)
        assert (m["n"], m["nd"]) == (tbl.num_rows, n_deletes), m


@pytest.mark.parametrize("fmt", ["dual", "parquet"])
def test_every_commit_writes_the_current_layout(spark, catalog, fmt):
    """Appends, merge-on-read and copy-on-write deletes, both
    rewrite_manifests shapes and a forced compaction each leave a snapshot
    whose list records and members carry every field the readers use."""
    from go_iceberg_spark.schema import from_spark_schema

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(10)])
    t = catalog.create_table("db", f"layout_{fmt}", from_spark_schema(df.schema),
                             properties={"manifest-format": fmt})
    steps = [
        lambda: t.append(df),
        lambda: t.append(spark.createDataFrame([Row(id=10 + i, v=float(i)) for i in range(10)])),
        lambda: t.delete(gi.eq("id", 3), mode="merge-on-read"),
        lambda: t.delete(gi.gte("id", 15)),
        lambda: t.rewrite_manifests(target_entries_per_manifest=1),
        lambda: t.rewrite_manifests(),
        lambda: t.rewrite_data_files(min_input_files=1),
    ]
    for step in steps:
        step()
        assert_current_layout(t, t.current_snapshot())
    assert sorted(r.id for r in t.to_df().collect()) == [i for i in range(15) if i != 3]


def test_append_reuses_parent_members(spark, catalog):
    t = mk(spark, catalog, "reuse")
    m1 = members_of(t)
    t.append(spark.createDataFrame([Row(id=100, v=1.0)]))
    m2 = members_of(t)
    # the first commit's member is reused VERBATIM (same path, no rewrite)
    assert m1[0] in m2 and len(m2) == len(m1) + 1
    t.append(spark.createDataFrame([Row(id=200, v=2.0)]))
    m3 = members_of(t)
    assert all(m in m3 for m in m2) and len(m3) == len(m2) + 1
    # full read sees every generation
    assert t.to_df().count() == 12


def test_delete_rewrites_only_affected_member(spark, catalog):
    t = mk(spark, catalog, "partial")
    t.append(spark.createDataFrame([Row(id=100 + i, v=float(i)) for i in range(10)]))
    m_before = members_of(t)
    # CoW delete hits only the second batch's files
    t.delete(gi.gte("id", 100))
    m_after = members_of(t)
    # the untouched first member survives verbatim
    assert m_before[0] in m_after
    # the affected member is gone (all its files rewritten/removed)
    assert m_before[1] not in m_after
    assert t.to_df().count() == 10


def test_member_list_compacts_past_threshold(spark, catalog):
    from go_iceberg_spark.table.table import Table

    t = mk(spark, catalog, "compact")
    old_threshold = Table.MANIFEST_COMPACT_THRESHOLD
    Table.MANIFEST_COMPACT_THRESHOLD = 4
    try:
        for i in range(6):
            t.append(spark.createDataFrame([Row(id=1000 + i, v=float(i))]))
        assert len(members_of(t)) <= 5  # compacted back to one + newer appends
        assert t.to_df().count() == 16
    finally:
        Table.MANIFEST_COMPACT_THRESHOLD = old_threshold


def test_rewrite_manifests_compacts_chain(spark, catalog):
    """Explicit rewrite_manifests: many members collapse into one REPLACE
    snapshot with identical data."""
    t = mk(spark, catalog, "rwm")
    for i in range(4):
        t.append(spark.createDataFrame([Row(id=100 + i, v=float(i))]))
    assert len(members_of(t)) == 5
    files_before = {e.file_path for e in t.live_entries()}
    t.rewrite_manifests()
    assert len(members_of(t)) == 1
    assert t.current_snapshot().operation == "replace"
    # pure metadata: exact same data files, same rows
    assert {e.file_path for e in t.live_entries()} == files_before
    assert t.to_df().count() == 14

"""End-to-end CRUD on an ``s3://`` warehouse (VERDICT r2 task #10).

moto-backed S3 holds EVERY metadata byte (metadata JSON versions, parquet
member manifests, JSON manifest lists, the Iceberg Avro tree) and commits
go through S3 conditional PUT; data files land on a Hadoop-visible root via
the ``write.data.path`` property (this sandbox ships no S3A jars — on a
real cluster data rides s3a:// and the same code paths apply).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

import go_iceberg_spark as gi
from go_iceberg_spark.errors import CommitConflictError, ValidationError
from go_iceberg_spark.schema import from_spark_schema

moto = pytest.importorskip("moto")


@pytest.fixture()
def s3cat(spark, tmp_path):
    import boto3

    from go_iceberg_spark.catalog.catalog import FilesystemCatalog
    from go_iceberg_spark.io.fileio import S3FileIO

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="lake")
        io = S3FileIO(client=client)
        yield FilesystemCatalog(spark, "s3://lake/wh", io=io,
                                data_path=str(tmp_path / "dataroot")), io


def _proto(spark, n=20, off=0):
    return spark.createDataFrame(
        [Row(id=off + i, v=float(i), tag="a" if i % 2 else "b") for i in range(n)])


def test_s3_crud_round_trip(spark, s3cat, tmp_path):
    cat, io = s3cat
    t = cat.create_table("db", "t", from_spark_schema(_proto(spark).schema))
    t.append(_proto(spark))
    t.append(_proto(spark, 10, off=100))
    assert t.scan().count() == 30

    # every metadata artifact is an S3 object; data files are NOT on S3
    objs = io.list("s3://lake/wh/db/t/")
    assert any(o.endswith(".metadata.json") for o in objs)
    assert any(o.endswith(".manifest-list.json") for o in objs)
    assert any(o.endswith(".parquet") and "/metadata/" in o for o in objs)
    assert any(o.endswith(".avro") for o in objs)  # dual Iceberg tree too
    assert not any("/data/" in o for o in objs)
    # manifests carry ABSOLUTE write.data.path file paths
    assert all(e.file_path.startswith(str(tmp_path / "dataroot"))
               for e in t.live_entries())

    # CoW delete, MoR position delete, update — full filtered scans
    t.delete(gi.lt("id", 5))
    assert t.scan().count() == 25
    t.delete(gi.eq("tag", "b"), mode="merge-on-read")
    # 'b' rows left after the CoW delete: even ids 6..18 (7) + 100..108 (5)
    got = t.scan().count()
    assert got == 25 - 12 == 13
    t.update(gi.eq("id", 7), {"v": 99.0})
    assert t.to_df().filter("id = 7").collect()[0].v == 99.0

    # time travel across S3 snapshots
    first = t.snapshots()[0]
    assert t.scan().use_snapshot(first.snapshot_id).count() == 20

    # catalog surface
    assert cat.list_tables("db") == ["t"]
    t2 = cat.load_table("db", "t")
    assert t2.scan().count() == got
    with pytest.raises(ValidationError):
        cat.rename_table("db", "t", "db", "u")


def test_s3_commit_conflict_via_conditional_put(spark, s3cat):
    """Two handles racing the same version: the second exclusive PUT hits
    If-None-Match and surfaces as a retryable CommitConflictError — the
    optimistic protocol working over S3, not the local filesystem."""
    cat, _ = s3cat
    t1 = cat.create_table("db", "race", from_spark_schema(_proto(spark).schema))
    t2 = cat.load_table("db", "race")
    t1.append(_proto(spark, 5))
    t2.max_retries = 0
    with pytest.raises(CommitConflictError):
        t2._commit_snapshot("append", t2.live_entries())
    # with retries back on, the stock retry loop resolves it
    t2.max_retries = 3
    t2.refresh()
    t2.append(_proto(spark, 5, off=50))
    assert t2.scan().count() == 10


def test_s3_stale_handle_append_lands_after_retention_trim(spark, s3cat):
    """A handle whose loaded version was retention-trimmed behind newer
    commits conflicts instead of failing as if the table were gone: the
    retry reloads and the append's rows land."""
    cat, _ = s3cat
    cat.create_table("db", "stale", from_spark_schema(_proto(spark).schema), properties={
        "write.metadata.delete-after-commit.enabled": "true",
        "write.metadata.previous-versions-max": "1",
    })
    a = cat.load_table("db", "stale")
    b = cat.load_table("db", "stale")
    for k in range(3):
        b.append(_proto(spark, 2, off=10 * k))
    a.append(_proto(spark, 2, off=990))
    assert a.version == b.version + 1
    fresh = cat.load_table("db", "stale")
    assert sorted(r.id for r in fresh.to_df().collect()) == [0, 1, 10, 11, 20, 21, 990, 991]


def test_s3_expire_reclaims_s3_manifests_and_local_data(spark, s3cat, tmp_path):
    cat, io = s3cat
    t = cat.create_table("db", "exp", from_spark_schema(_proto(spark).schema))
    t.append(_proto(spark, 10))
    doomed_data = [e.file_path for e in t.live_entries()]
    t.delete(gi.lt("id", 100))  # CoW drop-all: first files now snapshot-1-only
    t.append(_proto(spark, 4, off=200))
    before = set(io.list("s3://lake/wh/db/exp/metadata/"))
    deleted = t.expire_snapshots(retain_last=1)
    after = set(io.list("s3://lake/wh/db/exp/metadata/"))
    assert len(after) < len(before)  # doomed manifests gone from S3
    for p in doomed_data:  # write.data.path files reclaimed locally
        assert not os.path.exists(p)
    assert t.scan().count() == 4
    assert any("/data/" not in d for d in deleted)


def test_s3_avro_tree_externally_readable(spark, s3cat):
    """The Iceberg-spec Avro tree written to S3 reconstructs the table via
    the engine-independent reader path (FileIO bytes -> OCF parse)."""
    from go_iceberg_spark.table.manifest_avro import read_avro_manifest_tree

    cat, io = s3cat
    t = cat.create_table("db", "av", from_spark_schema(_proto(spark).schema))
    t.append(_proto(spark, 15))
    snap = t.current_snapshot()
    assert snap.avro_manifest_path
    entries = read_avro_manifest_tree(t.location, snap.avro_manifest_path, io=io)
    assert sum(e.record_count for e in entries if e.content == 0) == 15


def test_s3_spec_evolution_wap_and_eq_delete_compose(spark, s3cat, tmp_path):
    """r7 probe sweep: the round's composition vocabulary on an s3://
    warehouse — partition-spec evolution mid-lineage, an eq-delete, a WAP
    branch publish, compaction, and expiry all commit through S3
    conditional PUT with every metadata byte on the object store."""
    import time as _time

    from go_iceberg_spark.table.transaction import delete_equality

    cat, io = s3cat
    df = _proto(spark, 12)
    t = cat.create_table(("db",), "compose", from_spark_schema(df.schema))
    t.append(df)
    s0 = t.current_snapshot().snapshot_id

    delete_equality(t, spark.createDataFrame([(3,), (5,)], "id bigint"), ["id"])
    t.update_partition_spec(("tag", "identity"))
    t.append(_proto(spark, 3, off=100))

    t.create_branch("audit")
    t.append_to_branch("audit", _proto(spark, 2, off=200))
    assert t.to_df().count() == 13  # staged rows invisible on main
    t.fast_forward("main", "audit")
    assert sorted(r.id for r in t.to_df().collect()) == \
        sorted(set(range(12)) - {3, 5}) + [100, 101, 102, 200, 201]

    t.create_tag("pre", s0)
    # r7: member-clustering manifest rewrite commits every metadata byte
    # (members, list, new version) through S3 conditional PUT
    t.rewrite_manifests(target_entries_per_manifest=2)
    assert sorted(r.id for r in t.to_df().collect()) == \
        sorted(set(range(12)) - {3, 5}) + [100, 101, 102, 200, 201]
    t.rewrite_data_files(min_input_files=1)
    t.expire_snapshots(older_than=int(_time.time() * 1000) + 10_000, retain_last=1)
    assert sorted(r.id for r in t.to_df().collect()) == \
        sorted(set(range(12)) - {3, 5}) + [100, 101, 102, 200, 201]
    # tag-retained time travel across the expired gap
    assert sorted(r.id for r in t.scan().use_snapshot(s0).to_df().collect()) == list(range(12))


def test_s3_member_bounds_skip_reads_only_matching_manifests(spark, s3cat):
    """r7: on an object-store table the member-level bounds skip reads ONLY
    the matching member manifests — each member is a network round-trip on
    S3, so planning cost follows matching members, not commits. Observed
    via the per-member cache: after a point scan only the covering data
    member (and the always-read delete member) are fetched."""
    import os as _os

    from go_iceberg_spark.table.metadata import read_manifest_list

    from go_iceberg_spark.table.metadata import read_manifest_list

    cat, io = s3cat
    df = _proto(spark, 12)
    t = cat.create_table(("db",), "memskip", from_spark_schema(df.schema))
    t.append(df)                           # ids 0..11
    t.append(_proto(spark, 12, off=100))   # ids 100..111
    t.append(_proto(spark, 12, off=200))   # ids 200..211
    t.delete(gi.eq("id", 1), mode="merge-on-read")
    t.rewrite_manifests(target_entries_per_manifest=1)

    members = read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path), io)
    del_members = {m["path"] for m in members if m["nd"] > 0}
    assert len(members) == 4 and len(del_members) == 1

    t._manifest_cache.clear()
    got = sorted(r.id for r in t.scan().filter(gi.eq("id", 105)).to_df().collect())
    assert got == [105]
    fetched = {os.path.relpath(p, t.location) for p in t._manifest_cache}
    data_fetched = fetched - del_members
    assert len(data_fetched) == 1, fetched      # only the covering member
    assert del_members <= fetched               # delete member always read

    # full scan afterwards still sees everything (cache consistency)
    assert t.to_df().count() == 35


def test_s3_manifests_df_reports_object_sizes(spark, s3cat):
    """The manifests metadata table reads member sizes from the object
    store, not from the local filesystem."""
    from go_iceberg_spark.table.metadata import read_manifest_list

    cat, io = s3cat
    t = cat.create_table("db", "mlen", from_spark_schema(_proto(spark).schema))
    t.append(_proto(spark))
    t.append(_proto(spark, 10, off=100))
    members = read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path), io)
    rows = t.manifests_df().collect()
    assert sorted(r.path for r in rows) == sorted(m["path"] for m in members)
    for r in rows:
        assert r.length == io.size(os.path.join(t.location, r.path)) > 0


def test_s3_metadata_version_retention(spark, s3cat):
    """r11: delete-after-commit retention must work through the S3 FileIO
    path too (listing + delete on the object store)."""
    cat, io = s3cat
    t = cat.create_table(
        "db", "mdret", from_spark_schema(_proto(spark).schema),
        properties={"write.metadata.previous-versions-max": "2",
                    "write.metadata.delete-after-commit.enabled": "true"})
    for i in range(6):
        t.append(_proto(spark, n=3, off=i * 10))
    names = [p for p in io.list(t.location + "/metadata")
             if p.endswith(".metadata.json")]
    vs = sorted(int(n.rsplit("/v", 1)[1].split(".")[0]) for n in names)
    assert vs == [max(vs) - 2, max(vs) - 1, max(vs)], vs
    assert t.scan().count() == 18

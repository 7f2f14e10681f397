"""Table maintenance: snapshot expiry, compaction, orphan cleanup, metadata
tables — the operational surface (Iceberg expire_snapshots /
rewrite_data_files / remove_orphan_files procedure equivalents)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import go_iceberg_spark as gi
from go_iceberg_spark.table import maintenance as MX


def mk(spark, catalog, name, batches=4, rows=50):
    from go_iceberg_spark.schema import from_spark_schema

    df0 = spark.createDataFrame([Row(id=0, v=0.0)])
    t = catalog.create_table("db", name, from_spark_schema(df0.schema))
    for b in range(batches):
        t.append(spark.createDataFrame(
            [Row(id=b * rows + i, v=float(i)) for i in range(rows)]))
    return t


def test_expire_snapshots(spark, catalog):
    t = mk(spark, catalog, "exp", batches=4)
    assert len(t.snapshots()) == 4
    deleted = MX.expire_snapshots(t, retain_last=2)
    assert len(t.snapshots()) == 2
    # current data is fully intact
    assert t.to_df().count() == 200
    # files only reachable from dropped snapshots were removed from disk;
    # files still referenced by retained snapshots survive
    assert all(not os.path.exists(os.path.join(t.location, p)) for p in deleted)
    live = {e.file_path for e in t.live_entries()}
    assert all(os.path.exists(os.path.join(t.location, p)) for p in live)
    # expiring everything but current is idempotent from here
    assert MX.expire_snapshots(t, retain_last=2) == []


def test_expire_keeps_current_and_rejects_zero(spark, catalog):
    t = mk(spark, catalog, "exp2", batches=3)
    MX.expire_snapshots(t, retain_last=1)
    assert len(t.snapshots()) == 1
    assert t.snapshots()[0].snapshot_id == t.current_snapshot().snapshot_id
    with pytest.raises(gi.ValidationError):
        MX.expire_snapshots(t, retain_last=0)


def test_rewrite_data_files_compacts(spark, catalog):
    t = mk(spark, catalog, "cpt", batches=5, rows=20)
    before = t.to_df()
    n_files_before = len([e for e in t.live_entries() if e.content == 0])
    assert n_files_before >= 5
    snap = MX.rewrite_data_files(t, min_input_files=2)
    assert snap is not None and snap.operation == "replace"
    n_files_after = len([e for e in t.live_entries() if e.content == 0])
    assert n_files_after < n_files_before
    # contents identical after compaction
    assert sorted(map(tuple, t.to_df().collect())) == sorted(map(tuple, before.collect()))


def test_compaction_materializes_mor_deletes(spark, catalog):
    t = mk(spark, catalog, "cptm", batches=3, rows=30)
    t.delete(gi.lt("id", 10), mode="merge-on-read")
    assert any(e.content != 0 for e in t.live_entries())  # delete file present
    MX.rewrite_data_files(t, min_input_files=1)
    assert all(e.content == 0 for e in t.live_entries())  # deletes collapsed
    assert t.to_df().count() == 80


def test_remove_orphan_files(spark, catalog):
    t = mk(spark, catalog, "orp", batches=2)
    orphan = os.path.join(t.location, "data", "orphan-000.parquet")
    spark.createDataFrame([Row(id=1, v=1.0)]).coalesce(1).write.mode("overwrite").parquet(orphan)
    deleted = MX.remove_orphan_files(t)
    assert deleted and all("orphan-000" in p for p in deleted)
    assert t.to_df().count() == 100


def test_metadata_tables(spark, catalog):
    t = mk(spark, catalog, "meta", batches=3)
    snaps = MX.snapshots_df(t)
    assert snaps.count() == 3
    assert snaps.filter(F.col("operation") == "append").count() == 3
    files = MX.files_df(t)
    assert files.count() == len(t.live_entries())
    assert files.agg(F.sum("record_count")).collect()[0][0] == 150
    hist = MX.history_df(t)
    assert hist.filter("is_current").count() == 1
    # refs table (r7): implicit main, then explicit branch/tag rows with
    # retention knobs; manifests table exposes the r7 member bounds
    refs = {r.name: r for r in MX.refs_df(t).collect()}
    assert refs["main"].type == "branch"
    assert refs["main"].snapshot_id == t.current_snapshot().snapshot_id
    t.create_tag("v1", t.current_snapshot().snapshot_id)
    t.create_branch("dev", min_snapshots_to_keep=2)
    refs = {r.name: r for r in MX.refs_df(t).collect()}
    assert refs["v1"].type == "tag" and refs["dev"].min_snapshots_to_keep == 2
    assert set(refs) >= {"main", "v1", "dev"}
    mans = MX.manifests_df(t).collect()
    assert mans and all(m.bounds is not None for m in mans)


def test_zorder_rewrite_improves_multidim_pruning(spark, catalog):
    """Z-order rewrite: after clustering on (x, y), a conjunctive filter on
    both dimensions plans strictly fewer files than the natural layout."""
    import go_iceberg_spark.expr as E
    from go_iceberg_spark.schema import from_spark_schema

    # natural layout: rows arrive ordered by id, so every file spans the
    # full range of BOTH x and y -> no file can be pruned
    def chunk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "CAST(id % 200 AS LONG) AS x", "CAST((id * 7919) % 200 AS LONG) AS y"
        ).coalesce(1)

    t = catalog.create_table("db", "zorder", from_spark_schema(chunk(0, 1).schema))
    for lo in range(0, 40_000, 10_000):
        t.append(chunk(lo, lo + 10_000))

    flt = E.and_(E.and_(E.gte("x", 10), E.lt("x", 20)),
                 E.and_(E.gte("y", 10), E.lt("y", 20)))
    before = len(t.scan().filter(flt).plan_files())
    n_all_before = len(t.scan().plan_files())
    assert before == n_all_before  # nothing prunable in natural layout

    snap = t.rewrite_data_files(zorder_by=["x", "y"], target_file_size_bytes=64 * 1024)
    assert snap is not None and snap.summary["zorder-by"] == "x,y"
    t.refresh()
    n_all = len(t.scan().plan_files())
    after = len(t.scan().filter(flt).plan_files())
    assert n_all >= 2
    assert after < n_all, f"zorder did not prune: {after}/{n_all}"
    # rows unchanged
    assert t.scan().count() == 40_000
    assert t.scan().filter(flt).count() == spark.sql(
        "SELECT count(*) FROM range(40000) WHERE id % 200 BETWEEN 10 AND 19 "
        "AND (id * 7919) % 200 BETWEEN 10 AND 19").collect()[0][0]


def test_expire_retains_ref_heads(spark, catalog):
    """Snapshots referenced by branch/tag refs survive expiry even when age
    or retain_last would drop them."""
    from pyspark.sql import Row

    import go_iceberg_spark.expr as E
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.maintenance import expire_snapshots

    df = spark.createDataFrame([Row(id=i) for i in range(10)])
    t = catalog.create_table("db", "refkeep", from_spark_schema(df.schema))
    t.append(df)
    first = t.current_snapshot()
    t.create_tag("v1", first.snapshot_id)
    t.create_branch("wip")
    t.append_to_branch("wip", spark.createDataFrame([Row(id=100)]))
    wip_head = t.metadata.refs["wip"].snapshot_id
    t.delete(E.lt("id", 3))
    t.delete(E.lt("id", 5))

    expire_snapshots(t, retain_last=1)
    t.refresh()
    ids = {s.snapshot_id for s in t.snapshots()}
    assert first.snapshot_id in ids  # tag head kept
    assert wip_head in ids  # branch head kept
    assert t.metadata.refs["v1"].snapshot_id == first.snapshot_id
    # staged branch still readable after expiry
    assert t.scan().use_ref("wip").to_df().count() == 11
    assert t.scan().count() == 5


def test_expire_reclaims_members_when_list_missing(spark, catalog):
    """A doomed snapshot whose manifest-list file is already gone (partial
    earlier expire) must still have its member manifests reclaimed — the
    metadata-dir sweep catches what the list can no longer enumerate."""
    from go_iceberg_spark.table.metadata import read_manifest_list

    t = mk(spark, catalog, "leak", batches=1, rows=10)
    first = t.snapshots()[0]
    members_a = {m["path"] for m in read_manifest_list(
        os.path.join(t.location, first.manifest_path))}
    # overwrite rewrites members, so A's members are NOT reused downstream
    t.overwrite(spark.createDataFrame([Row(id=999, v=1.0)]))
    t.append(spark.createDataFrame([Row(id=1000, v=2.0)]))
    # simulate a partially-completed earlier expire: the list file vanished
    os.remove(os.path.join(t.location, first.manifest_path))
    with pytest.warns(UserWarning, match="manifest list missing"):
        # grace disabled: in tests the orphan members are seconds old, and
        # this models a dedicated cleanup job over stale debris
        MX.expire_snapshots(t, retain_last=1, sweep_grace_ms=0)
    kept = {m["path"] for m in read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path))}
    for p in members_a - kept:
        assert not os.path.exists(os.path.join(t.location, p)), p
    # table still reads fine
    assert t.to_df().count() == 2


def test_failed_commit_orphans_are_reclaimable(spark, catalog):
    """A commit that dies AFTER writing data files + both manifest dialects
    but BEFORE the metadata pointer lands (crash/conflict exhaustion) must
    leave the table readable and its debris fully reclaimable:
    remove_orphan_files takes the data orphans, expire's metadata-dir sweep
    takes the orphan manifests of the never-committed snapshot."""
    import os

    import pytest
    from pyspark.sql import Row

    from go_iceberg_spark.errors import CommitConflictError
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.maintenance import expire_snapshots, remove_orphan_files

    df = spark.createDataFrame([Row(a=i) for i in range(10)])
    t = catalog.create_table("db", "crash", from_spark_schema(df.schema))
    t.append(df)
    meta_dir = os.path.join(t.location, "metadata")
    before = set(os.listdir(meta_dir))

    def boom(md, v):
        raise CommitConflictError("injected crash")

    t._commit_fn, orig = boom, t._commit_fn
    t.max_retries = 0
    with pytest.raises(CommitConflictError):
        t.append(spark.createDataFrame([Row(a=100 + i) for i in range(5)]))
    t._commit_fn = orig
    t.refresh()
    assert t.scan().count() == 10  # committed state untouched
    debris = set(os.listdir(meta_dir)) - before
    assert debris  # the failed snapshot's manifests exist on disk

    orphan_data = remove_orphan_files(t)
    assert orphan_data, "the failed append's data files must be reclaimed"
    # default grace period protects concurrent in-flight commits: the
    # (young) debris survives this sweep ...
    expire_snapshots(t, retain_last=1)
    assert set(os.listdir(meta_dir)) & debris
    # ... and a cleanup job with grace disabled reclaims it
    expire_snapshots(t, retain_last=1, sweep_grace_ms=0)
    assert not (set(os.listdir(meta_dir)) & debris), "orphan manifests must be swept"
    assert t.refresh().scan().count() == 10


def test_branch_retention_knobs_protect_ancestors(spark, catalog):
    """Iceberg branch retention: a ref's min-snapshots-to-keep protects that
    many latest ANCESTORS of the branch head from expiry (not just the head),
    and the protected chain stays readable through the ref."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.maintenance import expire_snapshots

    df = spark.createDataFrame([Row(a=0)])
    t = catalog.create_table("db", "branchret", from_spark_schema(df.schema))
    for i in range(5):
        t.append(spark.createDataFrame([Row(a=i)]))
    chain = [s.snapshot_id for s in t.snapshots()]  # oldest..newest
    t.create_branch("audit", chain[3], min_snapshots_to_keep=3)
    t.append(spark.createDataFrame([Row(a=99)]))  # main moves on

    expire_snapshots(t, retain_last=1)
    alive = {s.snapshot_id for s in t.snapshots()}
    # head (chain[3]) + its 2 nearest ancestors survive; older ones expire
    assert {chain[3], chain[2], chain[1]} <= alive
    assert chain[0] not in alive
    # the branch still scans at its protected head
    assert t.scan().use_ref("audit").count() == 4

    # a knob-less tag protects only its own snapshot (unchanged behavior)
    t2 = catalog.create_table("db", "tagret", from_spark_schema(df.schema))
    for i in range(3):
        t2.append(spark.createDataFrame([Row(a=i)]))
    first = t2.snapshots()[0].snapshot_id
    t2.create_tag("v1", first)
    expire_snapshots(t2, retain_last=1)
    alive2 = {s.snapshot_id for s in t2.snapshots()}
    assert first in alive2 and len(alive2) == 2  # tag target + current


def test_expire_rewires_parents_by_ancestry_not_timestamp(spark, catalog):
    """r6 probe BUG FIX: with interleaved main and branch commits, expiry's
    parent-pointer rewiring must follow each snapshot's ORIGINAL ancestor
    chain. The old timestamp-order rewiring gave a main snapshot a BRANCH
    parent, leaking the branch-only row into the main changelog as a
    phantom insert+delete pair."""
    import time

    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(3)])
    t = catalog.create_table("db", "ilv_expire", from_spark_schema(df.schema))
    s1 = t.append(df)                                       # main
    t.create_branch("dev", s1.snapshot_id)
    b1 = t.append_to_branch("dev", spark.createDataFrame([Row(k=100, v=100.0)]))
    t.append(spark.createDataFrame([Row(k=10, v=10.0)]))    # main (between branch ts)
    s3 = t.append(spark.createDataFrame([Row(k=20, v=20.0)]))

    t.expire_snapshots(older_than=int(time.time() * 1000) + 10_000, retain_last=1)
    snaps = {s.snapshot_id: s for s in t.snapshots()}
    assert set(snaps) == {b1.snapshot_id, s3.snapshot_id}
    # s3's original ancestors (s2, s1) are gone -> parent rewires to None,
    # NEVER to the timestamp-adjacent branch snapshot b1
    assert snaps[s3.snapshot_id].parent_snapshot_id is None
    assert snaps[b1.snapshot_id].parent_snapshot_id is None

    # main changelog contains only main-lineage rows
    ch = sorted((r.k, r["_change_type"]) for r in t.changes().collect())
    assert ch == [(0, "insert"), (1, "insert"), (2, "insert"),
                  (10, "insert"), (20, "insert")]
    # both heads still read correctly
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 10, 20]
    assert sorted(r.k for r in t.scan().use_ref("dev").to_df().collect()) == [0, 1, 2, 100]


def test_rewrite_manifests_clusters_members_with_bounds(spark, catalog):
    """rewrite_manifests(target_entries_per_manifest=1): one member per data
    file, clustered by value range; each list member carries nd + bounds;
    data files and rows are untouched (pure metadata commit); MoR delete
    entries land in their own member."""
    from go_iceberg_spark.table.metadata import read_manifest_list

    t = mk(spark, catalog, "rwm", batches=3, rows=10)
    t.delete(gi.eq("id", 5), mode="merge-on-read")
    files_before = sorted(e.file_path for e in t.live_entries())
    rows_before = sorted(r.id for r in t.to_df().collect())

    snap = t.rewrite_manifests(target_entries_per_manifest=1)
    assert snap.operation == "replace"
    assert snap.summary["rewritten-manifests"] == "4"  # 3 data + 1 deletes

    assert sorted(e.file_path for e in t.live_entries()) == files_before
    assert sorted(r.id for r in t.to_df().collect()) == rows_before

    members = read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path))
    assert len(members) == 4
    assert all("bounds" in m and "nd" in m for m in members)
    assert sum(1 for m in members if m["nd"] > 0) == 1
    # a later incremental append keeps every member's bounds stamped
    t.append(spark.createDataFrame([Row(id=900, v=9.0)]))
    members2 = read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path))
    assert len(members2) == 5 and all("bounds" in m for m in members2)

    with pytest.raises(gi.ValidationError):
        t.rewrite_manifests(target_entries_per_manifest=0)


def test_member_level_skip_reads_only_matching_manifests(spark, catalog, monkeypatch):
    """The manifest-list bounds skip: a point filter reads ONLY the member
    whose range covers it — the other member manifests are never opened
    (planning I/O follows matching members, not commits). Delete members
    are always read, so MoR semantics survive the skip."""
    from go_iceberg_spark.table import planning as P
    from go_iceberg_spark.table.scan import ScanBuilder

    t = mk(spark, catalog, "rwmskip", batches=4, rows=25)  # ids 0..99
    t.delete(gi.eq("id", 7), mode="merge-on-read")
    t.rewrite_manifests(target_entries_per_manifest=1)

    # force the driver pruned-read tier (no full-cache path) and spy on it
    monkeypatch.setattr(ScanBuilder, "_CACHE_ENTRY_LIMIT", 0)
    t._manifest_cache.clear()
    read_paths: list[str] = []
    real = P.prune_manifest_driver

    def spy(path, *a, **kw):
        read_paths.append(os.path.basename(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(P, "prune_manifest_driver", spy)

    got = sorted(r.id for r in t.scan().filter(gi.eq("id", 30)).to_df().collect())
    assert got == [30]
    data_reads = [p for p in read_paths if "-g4." not in p]
    assert len(data_reads) == 1, read_paths  # only the covering data member
    # the delete member (last group) was read despite the data filter
    assert any("-g4." in p for p in read_paths), read_paths

    # the skipped-member plan still applies the MoR delete
    read_paths.clear()
    assert sorted(r.id for r in t.scan().filter(gi.lt("id", 10)).to_df().collect()) \
        == [0, 1, 2, 3, 4, 5, 6, 8, 9]


def test_cherrypick_single_audit_commit(spark, catalog):
    """r9: cherrypick_snapshot parity — publish ONE audited commit from a
    branch whose other commits stay unpublished (fast_forward can only
    take the whole branch). Metadata-only; non-append picks and
    double-picks are rejected."""
    import pytest
    from pyspark.sql import Row

    from go_iceberg_spark.errors import ValidationError
    from go_iceberg_spark.schema import from_spark_schema

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)])
    t = catalog.create_table("db", "cherry", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("audit")
    b1 = t.append_to_branch("audit", spark.createDataFrame([Row(id=100, v=1.0)]))
    b2 = t.append_to_branch("audit", spark.createDataFrame([Row(id=200, v=2.0)]))

    # main unchanged by branch work; pick ONLY the first audit commit
    assert t.to_df().count() == 5
    picked = t.cherrypick(b1.snapshot_id)
    assert picked.summary["cherry-picked-from"] == str(b1.snapshot_id)
    ids = {r.id for r in t.to_df().collect()}
    assert 100 in ids and 200 not in ids and len(ids) == 6

    # double-pick rejected; the OTHER commit still picks fine
    with pytest.raises(ValidationError, match="double-pick"):
        t.cherrypick(b1.snapshot_id)
    t.cherrypick(b2.snapshot_id)
    assert {r.id for r in t.to_df().collect()} >= {100, 200}

    # non-append snapshots are rejected (Iceberg's own restriction)
    t.delete(gi.eq("id", 0))
    del_snap = t.current_snapshot()
    t.rollback_to(picked.snapshot_id)
    with pytest.raises(ValidationError, match="append snapshots only"):
        t.cherrypick(del_snap.snapshot_id)

    # consumers see a plain append: incremental scan attributes the rows
    inc = t.incremental_scan(from_snapshot_id=picked.parent_snapshot_id,
                             to_snapshot_id=picked.snapshot_id)
    assert {r.id for r in inc.collect()} == {100}


@pytest.mark.soak
def test_selective_compaction_binpack_and_filter(spark, catalog):
    """r9: selective rewrite_data_files — the 100 TB form. binpack rewrites
    only files outside the 75%-180% band (untouched files carry verbatim,
    same path + sequence); `where` compacts just the matching slice; MoR
    deletes on candidates are materialized, deletes still needed by
    untouched files survive, dangling ones are dropped in the same commit."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.metadata import CONTENT_DATA
    from go_iceberg_spark.table.transaction import delete_equality

    df0 = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(2000)]).coalesce(1)
    t = catalog.create_table("db", "selcomp", from_spark_schema(df0.schema))
    t.append(df0)  # one BIG file
    big = [e.file_path for e in t.live_entries()][0]
    for k in range(3):  # three tiny files
        t.append(spark.createDataFrame([Row(id=10000 + k, v=1.0)]).coalesce(1))
    # a MoR position delete hitting a tiny file AND the big file
    t.delete(gi.isin("id", 10000, 5), mode="merge-on-read")
    n_before = t.scan().count()

    # binpack with a target that brackets the big file into the band
    big_size = next(e.file_size for e in t.live_entries() if e.file_path == big)
    t.rewrite_data_files(binpack=True, target_file_size_bytes=int(big_size / 1.2))
    ents = t.live_entries()
    data = [e for e in ents if e.content == CONTENT_DATA]
    # the big file survived VERBATIM; the three tiny files merged
    assert big in {e.file_path for e in data}
    assert len(data) == 2, [e.file_path for e in data]
    # the delete file survived (the big file still needs id=5 suppressed)
    assert any(e.content != CONTENT_DATA for e in ents)
    assert t.scan().count() == n_before
    assert t.scan().filter(gi.eq("id", 5)).count() == 0
    assert t.scan().filter(gi.eq("id", 10000)).count() == 0

    # now compact the slice holding the big file: its tombstones
    # materialize and the delete file (nothing left to suppress) is dropped
    t.rewrite_data_files(where=gi.lt("id", 9000), min_input_files=1)
    ents = t.live_entries()
    assert not [e for e in ents if e.content != CONTENT_DATA], "dangling delete kept"
    assert t.scan().count() == n_before
    # incremental consumers skip both reorganizations (rows-preserved):
    # exactly the 2000 + 3x1 appended rows, nothing from the rewrites
    assert t.incremental_scan(ignore_non_append=True).count() == 2003


def test_zorder_clusters_string_columns(spark, catalog):
    """r10: z-order over a STRING dimension — strings used to cast-to-double
    as NULL and silently not cluster (a no-op with no error). The
    first-6-bytes big-endian mapping is order-preserving (UTF-8 byte order
    == string order), so a 2-D (string, numeric) rewrite must let a string
    prefix filter prune files it could not before."""
    import random as _r

    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema

    rng = _r.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    rows = [Row(tag="".join(rng.choice(letters) for _ in range(8)),
                v=float(rng.randint(0, 10_000)),
                pad="".join(rng.choice(letters) for _ in range(80)))
            for _ in range(6000)]
    df = spark.createDataFrame(rows)
    t = catalog.create_table("db", "zostr", from_spark_schema(df.schema))
    t.append(df.coalesce(1))
    t.append(df.coalesce(1))  # interleaved layout: full-range bounds per file

    pred = gi.and_(gi.lt("tag", "c"), gi.lt("v", 2000.0))
    n_total = len(t.scan().plan_files())
    t.rewrite_data_files(target_file_size_bytes=48 * 1024,
                         zorder_by=["tag", "v"], min_input_files=1)
    total_after = len(t.scan().plan_files())
    kept = len(t.scan().filter(pred).plan_files())
    assert total_after > 2, "rewrite produced too few files to test pruning"
    assert kept < total_after, (kept, total_after)
    # rows identical through the rewrite
    assert t.scan().count() == 12000
    assert t.scan().filter(pred).count() == \
        df.filter((df.tag < "c") & (df.v < 2000.0)).count() * 2
    del n_total


@pytest.mark.parametrize("layout,fmt", [
    ("url_special_location", "current"),
    ("escaped_partition", "current"),
    ("write_data_path", "current"),
])
def test_tombstones_stay_applied_across_path_layouts(spark, tmp_path, layout, fmt):
    """A merge-on-read delete stays applied through a scan, changes(), a
    selective compaction and rewrite_position_deletes whatever the data
    files' paths hold: a location with a space, '%' and '+'; partition
    values Spark escapes (':' writes a literal '%3A' into the path) or
    leaves raw (' '); and a write.data.path root outside the location,
    recorded with '//'."""
    from go_iceberg_spark.catalog.catalog import FilesystemCatalog
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec

    def rows(lo):
        return spark.createDataFrame([Row(id=i, grp="a:b" if i % 2 else "c d", v=float(i))
                                      for i in range(lo, lo + 10)])

    root = tmp_path / ("wh a%b+c" if layout == "url_special_location" else "wh")
    catalog = FilesystemCatalog(spark, str(root))
    schema = from_spark_schema(rows(0).schema)
    kw = {}
    if layout == "escaped_partition":
        fid = schema.find_field("grp").field_id
        kw["spec"] = PartitionSpec(0, (PartitionField(fid, 1000, "identity", "grp"),))
    if layout == "write_data_path":
        kw["properties"] = {"write.data.path": str(tmp_path) + "/ext//data root"}
    t = catalog.create_table("db", "layout", schema, **kw)
    t.append(rows(0))
    t.append(rows(10))
    appended = t.snapshots()[-1].snapshot_id
    t.delete(gi.isin("id", 1, 2, 11, 12), mode="merge-on-read")
    want = [i for i in range(20) if i not in (1, 2, 11, 12)]
    assert sorted(r.id for r in t.to_df().collect()) == want
    cdc = t.changes(appended, t.snapshots()[-1].snapshot_id).collect()
    assert sorted((r.id, r.grp, r._change_type) for r in cdc) == [
        (i, "a:b" if i % 2 else "c d", "delete") for i in (1, 2, 11, 12)]
    t.rewrite_data_files(min_input_files=1, where=gi.gte("id", 10))
    assert sorted(r.id for r in t.to_df().collect()) == want
    t.rewrite_position_deletes()
    assert sorted(r.id for r in t.to_df().collect()) == want


@pytest.mark.soak
def test_rewrite_position_deletes_merges_and_drops_dangling(spark, catalog):
    """r10: rewrite_position_deletes (Iceberg rewrite_position_delete_files
    parity) — merges N tombstone files into one, drops rows referencing
    rewritten-away data files and rows whose delete sequence never applied,
    dedups overlapping (file, pos) pairs, and touches ZERO data files.
    Time travel before the rewrite still reads the old tombstone layout."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.metadata import (
        CONTENT_DATA,
        CONTENT_POSITION_DELETES,
    )

    mk = lambda lo, hi: spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(lo, hi)]).coalesce(1)
    t = catalog.create_table("db", "rwpd", from_spark_schema(mk(0, 1).schema))
    t.append(mk(0, 100))
    t.append(mk(100, 200))
    t.append(mk(200, 300))
    t.delete(gi.isin("id", 5, 105, 205), mode="merge-on-read")
    t.delete(gi.isin("id", 6, 106, 206), mode="merge-on-read")
    t.delete(gi.lt("id", 3), mode="merge-on-read")

    def posf():
        return [e for e in t.live_entries()
                if e.content == CONTENT_POSITION_DELETES]

    assert len(posf()) == 3
    n_visible = t.scan().count()
    # strand the high file's tombstones
    t.rewrite_data_files(min_input_files=1, where=gi.gte("id", 200))
    data_before = sorted(e.file_path for e in t.live_entries()
                         if e.content == CONTENT_DATA)
    rows_before = sum(
        spark.read.parquet(f"{t.location}/{e.file_path}").count()
        for e in posf())
    pre = t.current_snapshot().snapshot_id
    pre_posf = len(posf())

    snap = t.rewrite_position_deletes()
    assert snap is not None and snap.summary["rows-preserved"] == "true"
    assert sorted(e.file_path for e in t.live_entries()
                  if e.content == CONTENT_DATA) == data_before
    after = posf()
    assert len(after) == 1
    rows_after = spark.read.parquet(f"{t.location}/{after[0].file_path}").count()
    assert rows_after < rows_before  # dangling rows dropped
    # surviving tombstones: ids 5,105 (d1) + 6,106 (d2) + 0,1,2 (d3) — the
    # rows for the rewritten high file (205, 206) are gone
    assert rows_after == 7, rows_after
    assert t.scan().count() == n_visible
    assert t.scan().filter(gi.eq("id", 5)).count() == 0
    assert t.scan().filter(gi.eq("id", 205)).count() == 0
    # time travel to the pre-rewrite snapshot: old tombstone files apply
    assert t.scan().use_snapshot(pre).to_df().count() == n_visible
    assert pre_posf == 3  # all three pos files still referenced a survivor
    # incremental consumers skip the tombstone rewrite (rows-preserved)
    t.incremental_scan(pre, t.current_snapshot().snapshot_id)

    # idempotent: a second rewrite keeps one file and the same rows
    t.rewrite_position_deletes()
    assert len(posf()) == 1
    assert t.scan().count() == n_visible


def test_remove_ref_unpins_abandoned_branch_for_expiry(spark, catalog):
    """r9: DROP BRANCH/TAG parity — refs RETAIN their heads through expiry,
    so an abandoned audit branch pins its staged snapshot and files
    forever; remove_ref is what lets the next expire_snapshots reclaim
    them. main is protected; unknown refs are rejected."""
    import pytest
    from pyspark.sql import Row

    import go_iceberg_spark as gim
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.maintenance import expire_snapshots

    df = spark.createDataFrame([Row(id=i) for i in range(5)])
    t = catalog.create_table("db", "dropref", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("aud")
    staged = t.append_to_branch("aud", spark.createDataFrame([Row(id=99)]))
    staged_files = [e.file_path for e in t.manifest_entries(staged)
                    if e.file_path not in {x.file_path for x in t.live_entries()}]
    assert staged_files
    t.append(spark.createDataFrame([Row(id=1000)]))

    # while the ref exists, expiry retains the staged snapshot + files
    expire_snapshots(t, retain_last=1)
    assert staged.snapshot_id in {s.snapshot_id for s in t.snapshots()}
    assert all(os.path.exists(os.path.join(t.location, p)) for p in staged_files)

    with pytest.raises(gim.ValidationError, match="main"):
        t.remove_ref("main")
    with pytest.raises(gim.ValidationError, match="does not exist"):
        t.remove_ref("nope")
    t.remove_ref("aud")
    assert "aud" not in t.metadata.refs
    expire_snapshots(t, retain_last=1)
    assert staged.snapshot_id not in {s.snapshot_id for s in t.snapshots()}
    assert all(not os.path.exists(os.path.join(t.location, p)) for p in staged_files)
    assert t.to_df().count() == 6  # main untouched throughout


def test_cherrypick_double_pick_rejected_after_rewrite(spark, catalog):
    """r9 review find: the path-based double-pick guard goes blind once a
    compaction rewrites the picked files — re-picking would silently
    duplicate rows. The summary-ancestry guard must still reject."""
    import pytest
    from pyspark.sql import Row

    from go_iceberg_spark.errors import ValidationError
    from go_iceberg_spark.schema import from_spark_schema

    df = spark.createDataFrame([Row(id=i) for i in range(5)])
    t = catalog.create_table("db", "cherryrw", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("aud")
    b1 = t.append_to_branch("aud", spark.createDataFrame([Row(id=100)]))
    t.cherrypick(b1.snapshot_id)
    t.rewrite_data_files(min_input_files=1)  # picked file paths replaced
    with pytest.raises(ValidationError, match="double-pick"):
        t.cherrypick(b1.snapshot_id)
    assert sorted(r.id for r in t.to_df().collect()).count(100) == 1


def test_ndv_stats_incremental_merge_and_fallbacks(spark, catalog):
    """r11: NDV sketch refresh must (a) merge incrementally to the exact
    same sketch a full pass produces, (b) report staleness after new
    commits without a scan, (c) fall back to a full recompute across a
    non-append step (CoW delete shrinks NDV — a merge could never shrink),
    and (d) invalidate on a changed sketch parameter."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.maintenance import (
        NDV_STATS_PROP_PREFIX,
        refresh_ndv_stats,
    )

    df1 = spark.createDataFrame([Row(g=i % 7, s=f"v{i % 11}") for i in range(300)])
    t = catalog.create_table("db", "ndvt", from_spark_schema(df1.schema))
    t.append(df1)
    est1 = refresh_ndv_stats(t, ["g", "s"])
    assert est1 == {"g": 7.0, "s": 11.0}  # < k: the sketch is exact

    # incremental: new values appear only in the delta
    t.append(spark.createDataFrame([Row(g=100 + i, s="v100") for i in range(5)]))
    est2 = refresh_ndv_stats(t, ["g", "s"])
    assert est2 == {"g": 12.0, "s": 12.0}
    # merged sketch == full-recompute sketch, bit for bit
    import json
    merged = json.loads(t.metadata.properties[NDV_STATS_PROP_PREFIX + "g"])
    t.set_properties({"stats.kmv-ndv.snapshot-id": "-1"})  # force full pass
    refresh_ndv_stats(t, ["g", "s"])
    full = json.loads(t.metadata.properties[NDV_STATS_PROP_PREFIX + "g"])
    assert merged == full

    # staleness: a commit after the stamp flips fresh to False, value keeps
    est, fresh = t.approx_ndv("g")
    assert est == 12.0 and fresh
    t.append(spark.createDataFrame([Row(g=500, s="zzz")]))
    est, fresh = t.approx_ndv("g")
    assert est == 12.0 and not fresh

    # CoW delete: refresh must full-recompute (merge can never shrink)
    import go_iceberg_spark as gi
    t.delete(gi.gte("g", 100))
    est3 = refresh_ndv_stats(t, ["g", "s"])
    assert est3 == {"g": 7.0, "s": 11.0}, est3  # back to the originals
    # changed k: sketches invalidate, fresh pass at the new parameter
    est4 = refresh_ndv_stats(t, ["g"], k=8)
    assert est4["g"] == 7.0


def test_ndv_stats_survive_compaction_and_expiry(spark, catalog):
    """r11 probe: maintenance between refreshes — compaction's
    rows-preserved replace is SKIPPED by the incremental scan (no false
    fallback, no double counting), and when expiry drops the stamped
    snapshot itself the refresh falls back to a full recompute instead of
    erroring. Estimates always equal a from-scratch pass."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.maintenance import refresh_ndv_stats

    df = spark.createDataFrame([Row(g=i % 5) for i in range(100)])
    t = catalog.create_table("db", "ndvmx", from_spark_schema(df.schema))
    t.append(df)
    assert refresh_ndv_stats(t, ["g"]) == {"g": 5.0}

    # compaction + append, then refresh: the replace snapshot sits inside
    # the incremental range and must neither break the scan nor re-count
    # compacted rows (a double-counted g in 0..4 would not change NDV, so
    # ALSO check via a value that exists only once)
    t.rewrite_data_files(min_input_files=1)
    t.append(spark.createDataFrame([Row(g=77)]))
    assert refresh_ndv_stats(t, ["g"]) == {"g": 6.0}

    # expire the stamped snapshot: refresh must survive via full recompute
    t.append(spark.createDataFrame([Row(g=88)]))
    t.expire_snapshots(retain_last=1, sweep_grace_ms=0)
    assert refresh_ndv_stats(t, ["g"]) == {"g": 7.0}
    est, fresh = t.approx_ndv("g")
    assert est == 7.0 and fresh

"""Cross-feature integration: the round's features composed on one table —
sorted range-distributed writes, bloom stats, partition evolution,
metadata-only deletes, incremental/CDC reads, and the snapshot stream all
operating on the same snapshot lineage."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

import go_iceberg_spark as gi
from go_iceberg_spark.schema import from_spark_schema


def test_features_compose_on_one_table(spark, catalog, tmp_path):
    rng = random.Random(11)
    rows = [Row(id=i, grp="a" if i % 2 else "b", v=float(i)) for i in range(1000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows).repartition(4)

    t = catalog.create_table(
        "db", "kitchen", from_spark_schema(df.schema),
        properties={"write.target-file-size-bytes": "4096",
                    "write.distribution-mode": "range",
                    "write.bloom-columns": "grp"})
    t.replace_sort_order("id")
    t.append(df)
    s1 = t.current_snapshot().snapshot_id
    n_files_1 = len(t.scan().plan_files())
    assert n_files_1 > 1

    # range-distributed sort: a point range prunes by bounds
    assert len(t.scan().filter(gi.lt("id", 50)).plan_files()) < n_files_1

    # partition evolution mid-life; the second generation lays out by grp
    t.update_partition_spec("grp")
    t.append(spark.createDataFrame(
        [Row(id=1000 + i, grp="a" if i % 2 else "b", v=float(i)) for i in range(100)]))
    assert {e.spec_id for e in t.live_entries()} == {0, 1}

    # incremental scan across the evolution boundary sees only the new batch
    assert t.incremental_scan(from_snapshot_id=s1).count() == 100

    # partition-aligned delete is metadata-only for generation-2 'a' files
    # and rewrites generation-1 files (their grp values are mixed)
    before = {e.file_path for e in t.live_entries()}
    t.delete(gi.eq("grp", "a"))
    assert t.to_df().filter("grp = 'a'").count() == 0
    assert t.to_df().count() == 500 + 50  # even ids are 'b'... b count: ids%2==0 -> 'b'
    # changelog of the delete reports exactly the removed rows
    ch = t.changes(from_snapshot_id=t.snapshots()[-2].snapshot_id)
    dels = ch.filter("_change_type = 'delete'")
    assert dels.count() == 500 + 50
    assert set(r.grp for r in dels.select("grp").distinct().collect()) == {"a"}

    # snapshot stream over the full lineage with skip: exactly the live rows
    # of appends are replayed (deletes skipped)
    from go_iceberg_spark.streaming.source import read_snapshot_stream

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (read_snapshot_stream(spark, t, **{"skip-non-append": "true"})
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert spark.read.parquet(sink).count() == 1100  # both appends, pre-delete

    # maintenance keeps everything consistent
    t.rewrite_manifests()
    t.expire_snapshots(retain_last=1)
    assert t.to_df().count() == 550
    assert len(t.snapshots()) == 1


def test_kmeans_clusters_separate_and_converge(spark):
    """Sanity on well-separated synthetic blobs: 2 Lloyd iterations put each
    blob in one cluster, and iters=3 gives the same assignment (converged)."""
    import random

    from pyspark.sql import Row

    from go_iceberg_spark.operators.clustering import kmeans_assign

    rng = random.Random(7)
    rows = []
    for b in range(3):
        center = [10.0 * b] * 8
        for i in range(40):
            rows.append(Row(vec_id=b * 100 + i,
                            embedding=[c + rng.uniform(-0.5, 0.5) for c in center]))
    df = spark.createDataFrame(rows)
    a2 = {r.vec_id: r.cluster for r in kmeans_assign(df, k=3, iters=2).collect()}
    a3 = {r.vec_id: r.cluster for r in kmeans_assign(df, k=3, iters=3).collect()}
    assert a2 == a3  # converged
    # each blob lands wholly in one cluster, and blobs get distinct clusters
    blobs = {b: {a2[b * 100 + i] for i in range(40)} for b in range(3)}
    assert all(len(c) == 1 for c in blobs.values())
    assert len({next(iter(c)) for c in blobs.values()}) == 3


def test_branch_append_after_partition_evolution(spark, catalog):
    """r5 probe pair (a): WAP over a spec-evolved table — branch appends lay
    out by the NEW default spec, old-generation entries keep empty tuples,
    main is isolated until fast_forward, and pruning works after publish."""
    df = spark.range(0, 40).selectExpr("id", "id % 4 AS grp")
    t = catalog.create_table("db", "bpe", from_spark_schema(df.schema))
    t.append(df)                         # spec 0 (unpartitioned)
    t.update_partition_spec("grp")       # spec 1 becomes default
    t.create_branch("audit")
    t.append_to_branch("audit", spark.range(100, 120).selectExpr("id", "id % 4 AS grp"))
    assert t.scan().count() == 40, "branch write leaked into main"
    assert t.scan().use_ref("audit").count() == 60
    ents = t.manifest_entries(t.metadata.snapshot_by_id(t.metadata.refs["audit"].snapshot_id))
    old = [e for e in ents if e.spec_id == 0]
    new = [e for e in ents if e.spec_id == 1]
    assert old and all(e.partition == {} for e in old)
    assert new and all(e.partition.get("grp") is not None for e in new)
    t.fast_forward("main", "audit")
    assert t.scan().count() == 60
    tasks = t.scan().filter(gi.eq("grp", 2)).plan_files()
    assert len(tasks) < len(t.live_entries())
    assert t.scan().filter(gi.eq("grp", 2)).count() == 15


def test_add_files_after_int_to_long_retype(spark, catalog, tmp_path):
    """r5 probe pair (b): zero-copy import of files whose column is still
    INT after the table widened it to LONG — rows read back cast, stats
    prune correctly, and a fresh handle sees the widened schema."""
    from go_iceberg_spark.schema import LONG
    import os as _os

    df = spark.range(0, 30).selectExpr("CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS v")
    t = catalog.create_table("db", "afr", from_spark_schema(df.schema))
    t.append(df)
    t.update_schema().update_column_type("k", LONG).commit()
    ext = tmp_path / "ext_afr"
    spark.range(100, 120).selectExpr("CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS v") \
        .coalesce(1).write.parquet(str(ext))
    t.add_files([str(ext / n) for n in _os.listdir(ext) if n.endswith(".parquet")])
    assert t.scan().count() == 50
    got = t.scan().filter(gi.eq("k", 105)).to_df().collect()
    assert len(got) == 1 and got[0]["k"] == 105
    assert t.scan().filter(gi.gte("k", 100)).count() == 20
    assert t.scan().filter(gi.lt("k", 100)).count() == 30
    t2 = catalog.load_table("db", "afr")
    assert t2.to_df().schema["k"].dataType.simpleString() == "bigint"


def test_iceberg_bucket_survives_widening(spark, catalog):
    """r5 probe pair (d): write.bucket-function=iceberg hashes int sources
    at long width BY SPEC, so bucket ordinals survive int->long widening
    with no migration — pre-widen rows stay findable and pruned-to."""
    from go_iceberg_spark.schema import LONG
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec
    from go_iceberg_spark.table.write import bucket_for_literal

    df = spark.range(0, 60).selectExpr("CAST(id AS INT) AS k", "CAST(id AS DOUBLE) AS v")
    schema = from_spark_schema(df.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    spec = PartitionSpec(0, (PartitionField(fid["k"], 1000, "bucket[8]", "kb"),))
    t = catalog.create_table("db", "ibw", schema, spec=spec,
                             properties={"write.bucket-function": "iceberg"})
    t.append(df)
    assert t.scan().filter(gi.eq("k", 34)).count() == 1
    t.update_schema().update_column_type("k", LONG).commit()
    assert t.scan().filter(gi.eq("k", 34)).count() == 1, "pre-widen row lost"
    t.append(spark.range(1000, 1010).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    assert t.scan().filter(gi.eq("k", 1005)).count() == 1
    assert t.scan().filter(gi.eq("k", 34)).count() == 1
    tasks = t.scan().filter(gi.eq("k", 34)).plan_files()
    assert len(tasks) < len(t.live_entries()), "iceberg bucket pruning inactive"
    want = bucket_for_literal(34, 8, t.schema.find_field("k").type, bucket_fn="iceberg")
    assert all(f.file.partition["kb"] == str(want) for f in tasks)

def test_merge_nmbs_over_mor_deletes(spark, catalog):
    """r5 probe pair: NOT MATCHED BY SOURCE over a table carrying MoR
    position AND equality deletes — deleted rows must not resurrect through
    the full-candidate rewrite, and the rewrite must compact the delete
    files away (no stale delete entries pointing at removed data files)."""
    from go_iceberg_spark.table.metadata import CONTENT_DATA
    from go_iceberg_spark.table.mutate import merge
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.range(0, 100).selectExpr("id", "cast(id * 10 as long) AS v")
    t = catalog.create_table("db", "nmbs_mor", from_spark_schema(df.schema))
    t.append(df)
    t.delete(gi.lt("id", 10), mode="merge-on-read")          # pos-delete 0..9
    delete_equality(t, spark.range(90, 95).selectExpr("id"), ["id"])  # 90..94
    assert t.to_df().count() == 85

    src = spark.range(20, 50).selectExpr("id", "cast(id * 100 as long) AS v")
    merge(t, src, on=["id"], when_matched_update="*",
          when_not_matched_insert=True, when_not_matched_by_source_delete=True)
    rows = {r.id: r.v for r in t.to_df().collect()}
    assert set(rows) == set(range(20, 50))
    assert rows[20] == 2000 and rows[49] == 4900
    assert not [e for e in t.live_entries() if e.content != CONTENT_DATA], \
        "stale delete files survived the NMBS full rewrite"


def test_merge_nmbs_preserves_partition_tuples(spark, catalog):
    """NMBS rewrite of a partitioned table keeps partition tuples on the
    rewritten files (pruning must still work afterwards)."""
    from go_iceberg_spark.table.metadata import (
        CONTENT_DATA, PartitionField, PartitionSpec)
    from go_iceberg_spark.table.mutate import merge

    df = spark.range(0, 40).selectExpr(
        "id", "cast(id % 4 as int) AS bkt", "cast(id as long) AS v")
    schema = from_spark_schema(df.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    spec = PartitionSpec(0, (PartitionField(fid["bkt"], 1000, "identity", "bkt"),))
    t = catalog.create_table("db", "nmbs_part", schema, spec=spec)
    t.append(df)
    src = spark.range(0, 40, 2).selectExpr(
        "id", "cast(id % 4 as int) AS bkt", "cast(id * 5 as long) AS v")
    merge(t, src, on=["id"], when_matched_update="*",
          when_not_matched_insert=True, when_not_matched_by_source_delete=True)
    assert t.to_df().count() == 20
    live = [e for e in t.live_entries() if e.content == CONTENT_DATA]
    assert all(e.partition.get("bkt") is not None for e in live)
    assert len(t.scan().filter(gi.eq("bkt", 1)).plan_files()) < len(live)


def test_equality_delete_keys_are_field_ids_not_names(spark, catalog):
    """r5 probe bug fix: an equality delete written AFTER a key-column rename
    holds the new physical name in its parquet; applying it to data files
    written under the old name must resolve by field id on both sides.
    Before the fix the mixed-name delete group null-filled the renamed key
    and silently deleted nothing."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.range(0, 50).selectExpr("id", "cast(id as string) AS name")
    t = catalog.create_table("db", "eqdel_rename", from_spark_schema(df.schema))
    t.append(df)
    delete_equality(t, spark.range(0, 5).selectExpr("id"), ["id"])
    assert t.to_df().count() == 45
    t.update_schema().rename_column("id", "ident").commit()
    got = t.to_df()
    assert "ident" in got.columns and got.count() == 45
    assert got.agg(F.min("ident")).collect()[0][0] == 5
    # a NEW delete keyed on the renamed column applies to the OLD files
    delete_equality(t, spark.createDataFrame([Row(ident=7)]), ["ident"])
    assert t.to_df().count() == 44
    assert t.to_df().filter("ident = 7").count() == 0


def test_cdc_across_rollback_is_net_empty(spark, catalog):
    """changes() spanning a rollback_to must report zero net change (the
    rolled-back append and its reversal cancel), not replay phantom rows."""
    df = spark.range(0, 10).selectExpr("id")
    t = catalog.create_table("db", "rb_cdc", from_spark_schema(df.schema))
    t.append(df)
    s1 = t.current_snapshot().snapshot_id
    t.append(spark.range(10, 20).selectExpr("id"))
    t.rollback_to(s1)
    assert t.to_df().count() == 10
    assert t.changes(from_snapshot_id=s1).count() == 0


def test_expire_keeps_branch_referenced_snapshot(spark, catalog):
    """expire_snapshots must retain snapshots any ref (branch/tag) points
    at, and the branch must stay readable afterwards."""
    df = spark.range(0, 10).selectExpr("id")
    t = catalog.create_table("db", "exp_branch", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("keepme")
    t.append(spark.range(10, 20).selectExpr("id"))
    t.append(spark.range(20, 30).selectExpr("id"))
    t.expire_snapshots(retain_last=1)
    assert "keepme" in t.metadata.refs
    assert t.scan().use_ref("keepme").count() == 10


def test_time_travel_pins_snapshot_schema(spark, catalog):
    """r5 probe bug fix: use_snapshot/as_of (and tag reads) present the
    SNAPSHOT's schema — columns added later don't leak in, columns dropped
    later still appear; branch/current reads use the current schema
    (Iceberg read-schema rule)."""
    from go_iceberg_spark.schema import STRING

    df = spark.range(0, 10).selectExpr("id", "cast(id as double) AS v")
    t = catalog.create_table("db", "tt_schema", from_spark_schema(df.schema))
    t.append(df)
    s1 = t.current_snapshot().snapshot_id
    t.create_tag("v1", s1)
    t.create_branch("dev")
    t.update_schema().add_column("note", STRING).commit()
    t.append(spark.range(10, 15).selectExpr(
        "id", "cast(id as double) AS v", "concat('n', id) AS note"))

    old = t.scan().use_snapshot(s1).to_df()
    assert old.count() == 10 and "note" not in old.columns
    # tag pins the snapshot schema; branch follows the current schema
    assert "note" not in t.scan().use_ref("v1").to_df().columns
    assert "note" in t.scan().use_ref("dev").to_df().columns
    cur = t.to_df()
    assert cur.count() == 15 and cur.filter("note IS NULL").count() == 10

    t.update_schema().drop_column("v").commit()
    old2 = t.scan().use_snapshot(s1).to_df()
    assert "v" in old2.columns, "dropped column must survive in time travel"
    assert t.to_df().columns == ["id", "note"]


def test_merge_after_schema_evolution(spark, catalog):
    """r5 probe pins: merge with a source LACKING a newly added column
    null-fills inserts and leaves target values of unlisted columns alone;
    merge keyed on a RENAMED column reaches rows in pre-rename files."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.schema import STRING
    from go_iceberg_spark.table.mutate import merge

    df = spark.range(0, 20).selectExpr("id", "cast(id as long) AS v")
    t = catalog.create_table("db", "m_evo", from_spark_schema(df.schema))
    t.append(df)
    t.update_schema().add_column("note", STRING).commit()
    src = spark.range(15, 25).selectExpr("id", "cast(id * 2 as long) AS v")
    merge(t, src, on=["id"], when_matched_update={"v": F.col("s.v")},
          when_not_matched_insert=True)
    rows = {r.id: (r.v, r.note) for r in t.to_df().collect()}
    assert len(rows) == 25
    assert rows[16] == (32, None) and rows[22] == (44, None)

    t.update_schema().rename_column("id", "ident").commit()
    src2 = spark.range(24, 28).selectExpr("id AS ident", "cast(id * 3 as long) AS v")
    merge(t, src2, on=["ident"], when_matched_update={"v": F.col("s.v")},
          when_not_matched_insert=True)
    rows2 = {r.ident: r.v for r in t.to_df().collect()}
    assert len(rows2) == 28 and rows2[24] == 72 and rows2[27] == 81


def test_sort_order_survives_partition_evolution(spark, catalog):
    """replace_sort_order keeps producing range-pruned files after an
    update_partition_spec; both pruning dimensions stay active."""
    df = spark.range(0, 4000).selectExpr("id", "cast(id % 4 as int) AS grp")
    t = catalog.create_table("db", "sort_evo", from_spark_schema(df.schema),
                             properties={"write.target-file-size-bytes": "8192",
                                         "write.distribution-mode": "range"})
    t.replace_sort_order("id")
    t.append(df)
    assert len(t.scan().filter(gi.lt("id", 100)).plan_files()) < len(t.scan().plan_files())
    t.update_partition_spec("grp")
    t.append(spark.range(4000, 8000).selectExpr("id", "cast(id % 4 as int) AS grp"))
    n = len(t.scan().plan_files())
    assert len(t.scan().filter(gi.gt("id", 7900)).plan_files()) < n
    assert len(t.scan().filter(gi.eq("grp", 2)).plan_files()) < n
    assert t.scan().filter(gi.eq("grp", 2)).count() == 2000


def test_snapshot_stream_skips_rolled_back_snapshot(spark, catalog, tmp_path):
    """The streaming snapshot source must not replay rows of a snapshot
    that rollback_to removed from the main lineage."""
    from go_iceberg_spark.streaming.source import read_snapshot_stream

    df = spark.range(0, 10).selectExpr("id")
    t = catalog.create_table("db", "stream_rb", from_spark_schema(df.schema))
    t.append(df)
    s1 = t.current_snapshot().snapshot_id
    t.append(spark.range(10, 20).selectExpr("id"))
    t.rollback_to(s1)
    t.append(spark.range(100, 105).selectExpr("id"))
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (read_snapshot_stream(spark, t)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r.id for r in spark.read.parquet(sink).collect()}
    assert got == set(range(0, 10)) | set(range(100, 105))


def test_time_travel_after_compaction(spark, catalog):
    """rewrite_data_files must leave snapshots before it fully readable
    (old files stay on disk until expire_snapshots)."""
    df = spark.range(0, 1000).selectExpr("id")
    t = catalog.create_table("db", "compact_tt", from_spark_schema(df.schema),
                             properties={"write.target-file-size-bytes": "4096"})
    t.append(df)
    s1 = t.current_snapshot().snapshot_id
    t.delete(gi.lt("id", 100))
    t.rewrite_data_files()
    assert t.to_df().count() == 900
    assert t.scan().use_snapshot(s1).to_df().count() == 1000


def test_metadata_only_delete_with_pending_eq_delete(spark, catalog):
    """A whole-partition metadata-only drop composed with a pending equality
    delete targeting rows inside the dropped partition keeps counts exact."""
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.range(0, 100).selectExpr("id", "cast(id % 2 as int) AS par")
    schema = from_spark_schema(df.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    spec = PartitionSpec(0, (PartitionField(fid["par"], 1000, "identity", "par"),))
    t = catalog.create_table("db", "md_eq", schema, spec=spec)
    t.append(df)
    delete_equality(t, spark.createDataFrame([Row(id=3)]), ["id"])
    assert t.to_df().count() == 99
    t.delete(gi.eq("par", 1))
    assert t.to_df().count() == 50
    t.delete(gi.eq("par", 0))
    assert t.to_df().count() == 0


# ---------------------------------------------------------------------------
# r6 probe sweep (round 4 of the recipe): five untried feature pairs.
# Four passed as designed (pinned below); one found a real bug —
# changes() over an expired-gap lineage surfaced rows inserted AND
# MoR-deleted inside the gap as an insert+delete pair at one ordinal
# instead of netting to zero (fixed in incremental.py changelog netting).
# ---------------------------------------------------------------------------


def test_nmbs_merge_across_partition_spec_generations(spark, catalog):
    """r6 probe: MERGE WHEN NOT MATCHED BY SOURCE must widen its candidate
    set across partition-spec generations — rows live under the OLD spec
    are just as deletable as rows under the current default."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec

    df0 = spark.createDataFrame(
        [Row(k=i, region=("eu" if i % 2 else "us"), v=float(i)) for i in range(10)])
    sch = from_spark_schema(df0.schema)
    fid = {f.name: f.field_id for f in sch.fields}
    spec = PartitionSpec(0, (PartitionField(fid["region"], 1000, "identity", "region"),))
    t = catalog.create_table("db", "nmbs_specgen", sch, spec=spec)
    t.append(df0)                                     # gen-0 files (identity spec)
    t.update_partition_spec(("k", "bucket[4]"))
    t.append(spark.createDataFrame(
        [Row(k=100 + i, region="ap", v=float(i)) for i in range(10)]))  # gen-1

    src = spark.createDataFrame([Row(k=k) for k in (0, 1, 100, 101)])
    t.merge(src, ["k"], when_matched_update=None, when_not_matched_insert=False,
            when_not_matched_by_source_delete=True)
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 100, 101]
    # survivors were rewritten under the CURRENT default spec with real tuples
    assert {e.spec_id for e in t.live_entries()} == {1}
    assert all("k_bucket" in e.partition for e in t.live_entries())
    # both old- and new-spec scan predicates still work
    assert t.scan().filter(gi.eq("region", "eu")).count() == 1
    assert t.scan().filter(gi.eq("k", 100)).count() == 1

    # conditional NMBS update also reaches both generations
    t.merge(spark.createDataFrame([Row(k=0)]), ["k"], when_matched_update=None,
            when_not_matched_insert=False,
            when_not_matched_by_source_update={"v": F.lit(-1.0)})
    vals = {r.k: r.v for r in t.to_df().collect()}
    assert vals == {0: 0.0, 1: -1.0, 100: -1.0, 101: -1.0}


def test_tag_read_pins_schema_and_ignores_later_eq_delete(spark, catalog):
    """r6 probe: a tag read composes the two r5 rules — it pins the TAGGED
    snapshot's schema (pre-rename column names) and, because MoR delete
    applicability is sequence-based, an equality delete committed AFTER the
    tagged snapshot must not suppress the tag's rows."""
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame([Row(uid=i, v=float(i)) for i in range(8)])
    t = catalog.create_table("db", "tag_eqdel", from_spark_schema(df.schema))
    s1 = t.append(df)
    t.create_tag("v1", s1.snapshot_id)

    t.update_schema().rename_column("uid", "user_id").commit()
    delete_equality(t, spark.createDataFrame(
        [Row(user_id=3), Row(user_id=5)]), ["user_id"])

    cur = t.to_df()
    assert cur.columns == ["user_id", "v"]
    assert sorted(r.user_id for r in cur.collect()) == [0, 1, 2, 4, 6, 7]

    tag_df = t.scan().use_ref("v1").to_df()
    assert tag_df.columns == ["uid", "v"]              # pinned pre-rename schema
    assert sorted(r.uid for r in tag_df.collect()) == list(range(8))  # no delete

    # a tag AFTER the rename sees new names and pre-delete data
    s3 = t.append(spark.createDataFrame([Row(user_id=100, v=1.0)]))
    t.create_tag("v2", s3.snapshot_id)
    delete_equality(t, spark.createDataFrame([Row(user_id=100)]), ["user_id"])
    assert 100 in [r.user_id for r in t.scan().use_ref("v2").to_df().collect()]
    assert 100 not in [r.user_id for r in t.to_df().collect()]


def test_add_files_survive_avro_manifest_rewrite(spark, catalog, tmp_path):
    """r6 probe: zero-copy imported (out-of-tree) files stay fully
    represented through rewrite_manifests — in the engine scan AND on the
    external Avro wire (spec-only reader sees their absolute paths and
    record counts)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_external_reader import external_table_state

    ext = str(tmp_path / "ext_data")
    spark.createDataFrame([Row(k=i, v=float(i)) for i in range(20)]).coalesce(2)\
         .write.mode("overwrite").parquet(ext)
    paths = [os.path.join(ext, f) for f in os.listdir(ext) if f.endswith(".parquet")]

    df = spark.createDataFrame([Row(k=100, v=1.0)])
    t = catalog.create_table("db", "addavro", from_spark_schema(df.schema))
    t.append(df)
    t.add_files(paths)
    assert t.scan().count() == 21
    t.rewrite_manifests()
    assert t.scan().count() == 21

    _, _, _, entries = external_table_state(spark, t.location)
    epaths = [e["data_file"]["file_path"] for e in entries]
    assert sum(1 for p in epaths if "ext_data" in p) == 2
    assert sum(e["data_file"]["record_count"] for e in entries) == 21


def test_changes_nets_rows_deleted_inside_expired_gap(spark, catalog):
    """r6 probe BUG FIX: expire_snapshots rewires parent pointers across the
    removed gap, so one changes() diff window can contain both a data file
    and a later MoR delete over it. Rows inserted AND deleted inside the
    gap must net to zero — before the fix they surfaced as an insert and a
    delete at the same ordinal (and the eq-delete also double-counted)."""
    import time

    from pyspark.sql import functions as F

    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(5)])
    t = catalog.create_table("db", "gap_net", from_spark_schema(df.schema))
    s1 = t.append(df)
    t.create_branch("dev", s1.snapshot_id)
    t.append(spark.createDataFrame([Row(k=10, v=10.0)]))        # gap: insert
    delete_equality(t, spark.createDataFrame([Row(k=10)]), ["k"])  # gap: delete
    s4 = t.append(spark.createDataFrame([Row(k=20, v=20.0)]))

    t.expire_snapshots(older_than=int(time.time() * 1000) + 10_000, retain_last=1)
    assert {s.snapshot_id for s in t.snapshots()} == {s1.snapshot_id, s4.snapshot_id}
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 3, 4, 20]

    ch = t.changes(from_snapshot_id=s1.snapshot_id)
    assert sorted((r.k, r["_change_type"]) for r in ch.collect()) == [(20, "insert")]
    bt = {r["_change_type"]: r["n"] for r in
          t.changes().groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert bt == {"insert": 6}
    # the branch is untouched by expiry and still readable
    assert sorted(r.k for r in t.scan().use_ref("dev").to_df().collect()) == [0, 1, 2, 3, 4]


def test_selective_overwrite_and_update_across_rename(spark, catalog):
    """r6 probe (passed as designed, pinned): selective overwrite and
    update() filtered on a RENAMED column still rewrite the matching rows
    of files written under the old name — field-id alignment end-to-end."""
    df = spark.createDataFrame(
        [Row(uid=i, grp="a" if i < 5 else "b", v=float(i)) for i in range(10)])
    t = catalog.create_table("db", "ovr_rename", from_spark_schema(df.schema))
    t.append(df)
    t.update_schema().rename_column("uid", "user_id").commit()

    t.overwrite(spark.createDataFrame([Row(user_id=100, grp="a", v=-1.0)]),
                filter=gi.eq("grp", "a"))
    assert sorted((r.user_id, r.grp) for r in t.to_df().collect()) == \
        [(5, "b"), (6, "b"), (7, "b"), (8, "b"), (9, "b"), (100, "a")]

    t.overwrite(spark.createDataFrame([Row(user_id=7, grp="b", v=-2.0)]),
                filter=gi.eq("user_id", 7))
    vals = {r.user_id: r.v for r in t.to_df().collect()}
    assert vals[7] == -2.0 and len(vals) == 6

    t.update(gi.lt("user_id", 6), {"v": 99.0})
    assert {r.user_id: r.v for r in t.to_df().collect()}[5] == 99.0


def test_transaction_commit_retries_past_concurrent_writer(spark, catalog):
    """r6 probe BUG FIX: Transaction.commit() used to call _commit_snapshot
    raw — a concurrent commit landing between stage and commit raised
    CommitConflictError and orphaned the staged files (BulkWriter already
    retried). commit() now rebuilds against reloaded metadata and retries:
    both writers' rows land."""
    from go_iceberg_spark.table.transaction import Transaction

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(5)])
    t = catalog.create_table("db", "tx_race", from_spark_schema(df.schema))
    t.append(df)

    tx = Transaction(t)
    tx.append(spark.createDataFrame([Row(k=10, v=10.0)]))
    tx.append(spark.createDataFrame([Row(k=11, v=11.0)]))
    t2 = catalog.load_table("db", "tx_race")
    t2.append(spark.createDataFrame([Row(k=20, v=20.0)]))  # concurrent writer
    tx.commit()                                            # must retry, not die
    t.refresh()
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 3, 4, 10, 11, 20]

    # delete+append transaction racing a concurrent append: filters re-run
    # against the reloaded metadata, one OVERWRITE snapshot lands
    tx2 = Transaction(t)
    tx2.delete(gi.eq("k", 0))
    tx2.append(spark.createDataFrame([Row(k=30, v=30.0)]))
    t2.refresh()
    t2.append(spark.createDataFrame([Row(k=40, v=40.0)]))
    tx2.commit()
    t.refresh()
    assert sorted(r.k for r in t.to_df().collect()) == [1, 2, 3, 4, 10, 11, 20, 30, 40]


def test_bulk_writer_rows_survive_an_earlier_equality_delete(spark, catalog):
    """A BulkWriter's staged files take the sequence number of the commit
    that lands them: an equality delete committed between the write and
    the commit must not remove the bulk rows, which the table receives
    after the delete."""
    from go_iceberg_spark.table.transaction import BulkWriter, delete_equality

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)])
    t = catalog.create_table("db", "bulk_seq", from_spark_schema(df.schema))
    t.append(df)
    bw = BulkWriter(t)
    bw.write(spark.createDataFrame([Row(id=100, v=100.0)]))
    t.append(spark.createDataFrame([Row(id=200, v=200.0)]))
    delete_equality(t, spark.createDataFrame([Row(id=100)]), ["id"])
    snap = bw.commit()
    assert sorted(r.id for r in t.to_df().collect()) == [0, 1, 2, 3, 4, 100, 200]
    prev = {e.file_path for e in t.manifest_entries(t.snapshot_by_id(snap.parent_snapshot_id))}
    added = [e for e in t.manifest_entries(snap) if e.file_path not in prev]
    assert added and all(e.sequence_number == snap.sequence_number for e in added)


def test_wap_publish_after_schema_change_on_main(spark, catalog):
    """r6 probe (passed as designed, pinned): stage rows on an audit branch,
    add a column on main, then fast-forward main to the branch head — the
    published read uses the CURRENT schema (new column null for every row)
    and loses nothing."""
    from go_iceberg_spark.schema import STRING

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(3)])
    t = catalog.create_table("db", "wap_schema", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("audit")
    t.append_to_branch("audit", spark.createDataFrame([Row(k=30, v=30.0)]))
    t.update_schema().add_column("tag", STRING).commit()
    t.fast_forward("main", "audit")
    t.refresh()
    out = t.to_df()
    assert out.columns == ["k", "v", "tag"]
    assert sorted(r.k for r in out.collect()) == [0, 1, 2, 30]
    assert all(r.tag is None for r in out.collect())


def test_eq_delete_survives_drop_and_widen_of_key_column(spark, catalog):
    """r6 probe (passed as designed, pinned): a live equality delete keeps
    suppressing its rows after the KEY column is dropped from the current
    schema (physical resolution via the delete's writer schema + field id),
    and after an int->long widen of the key column (aligned casts)."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.schema import LONG
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame(
        [Row(k=i, tag="a" if i % 2 else "b", v=float(i)) for i in range(8)])
    t = catalog.create_table("db", "drop_eqkey", from_spark_schema(df.schema))
    t.append(df)
    delete_equality(t, spark.createDataFrame([Row(tag="a")]), ["tag"])
    assert sorted(r.k for r in t.to_df().collect()) == [0, 2, 4, 6]
    t.update_schema().drop_column("tag").commit()
    assert t.to_df().columns == ["k", "v"]
    assert sorted(r.k for r in t.to_df().collect()) == [0, 2, 4, 6]

    df2 = spark.createDataFrame([Row(ik=i, v=float(i)) for i in range(6)]) \
        .withColumn("ik", F.col("ik").cast("int"))
    t2 = catalog.create_table("db", "widen_eqkey", from_spark_schema(df2.schema))
    t2.append(df2)
    delete_equality(t2, spark.createDataFrame([Row(ik=2)])
                    .withColumn("ik", F.col("ik").cast("int")), ["ik"])
    t2.update_schema().update_column_type("ik", LONG).commit()
    assert sorted(r.ik for r in t2.to_df().collect()) == [0, 1, 3, 4, 5]


def test_bloom_and_nan_properties_follow_rename_and_drop(spark, catalog):
    """r6 probe BUG FIX: write.bloom-columns / write.nan-count-columns are
    NAME-keyed; a rename used to silently detach them, so every later file
    lost its blooms (point-lookup pruning degraded with no error). The
    schema commit now rewrites both properties; a dropped column leaves
    the list."""
    df = spark.createDataFrame(
        [Row(k=i, code=f"c{i:04d}", v=float(i)) for i in range(2000)])
    t = catalog.create_table(
        "db", "bloom_rename", from_spark_schema(df.schema),
        properties={"write.bloom-columns": "code",
                    "write.nan-count-columns": "v",
                    "write.target-file-size-bytes": "8192"})
    t.append(df)
    fid_code = {f.name: f.field_id for f in t.schema.fields}["code"]
    assert all(e.column_stats.get(fid_code, {}).get("bloom")
               for e in t.live_entries())

    t.update_schema().rename_column("code", "sku").commit()
    assert t.metadata.properties["write.bloom-columns"] == "sku"
    t.append(spark.createDataFrame(
        [Row(k=9000 + i, sku=f"x{i:04d}", v=1.0) for i in range(2000)]))
    new_files = [e for e in t.live_entries() if e.schema_id == t.schema.schema_id]
    assert new_files and all(
        e.column_stats.get(fid_code, {}).get("bloom") for e in new_files)
    # bloom point lookup still prunes across the rename boundary
    assert len(t.scan().filter(gi.eq("sku", "c0007")).plan_files()) < \
        len(t.scan().plan_files())
    assert t.scan().filter(gi.eq("sku", "c0007")).count() == 1

    # dropping the column removes it from the property instead of leaving
    # a dangling name
    t.update_schema().drop_column("v").commit()
    assert "write.nan-count-columns" not in t.metadata.properties


@pytest.mark.parametrize("writer", ["append", "transaction", "bulk_writer", "branch"])
def test_every_data_writer_honours_write_properties(spark, catalog, writer):
    """The write.* stats properties belong to the table, not the call site:
    files landed by a Transaction, a BulkWriter or a branch append carry the
    same bloom filters, NaN counts and exact-bounds markers as append's."""
    from go_iceberg_spark.table.transaction import BulkWriter, Transaction

    df = spark.createDataFrame(
        [Row(id=i, v=float(i), tag=f"t{i:03d}") for i in range(200)])
    t = catalog.create_table(
        "db", f"wprops_{writer}", from_spark_schema(df.schema),
        properties={"write.bloom-columns": "id",
                    "write.nan-count-columns": "v",
                    "write.exact-bounds-columns": "tag"})
    t.append(df)
    before = {e.file_path for e in t.live_entries()}
    more = spark.createDataFrame(
        [Row(id=1000 + i, v=float(i), tag=f"u{i:03d}") for i in range(200)])
    if writer == "append":
        snap = t.append(more)
    elif writer == "transaction":
        snap = Transaction(t).append(more).commit()
    elif writer == "bulk_writer":
        snap = BulkWriter(t).write(more).commit()
    else:
        t.create_branch("audit")
        snap = t.append_to_branch("audit", more)
    new = [e for e in t.manifest_entries(snap) if e.file_path not in before]
    fid = {f.name: f.field_id for f in t.schema.fields}
    assert new
    for e in new:
        assert e.column_stats[fid["id"]].get("bloom"), writer
        assert e.column_stats[fid["v"]].get("nan_count") == 0, writer
        assert e.column_stats[fid["tag"]].get("bounds_exact") is True, writer


def test_exact_bounds_property_follows_rename_and_drop(spark, catalog):
    """r10: write.exact-bounds-columns is NAME-keyed like the bloom/nan
    properties — a rename must carry it (or string metadata MIN/MAX would
    silently stop being served for new files), and a drop must remove it."""
    df = spark.createDataFrame([Row(k=i, tag=f"t{i:03d}") for i in range(20)])
    t = catalog.create_table(
        "db", "xb_rename", from_spark_schema(df.schema),
        properties={"write.exact-bounds-columns": "tag"})
    t.append(df)
    assert t.scan().metadata_min_max("tag") == ("t000", "t019")

    t.update_schema().rename_column("tag", "label").commit()
    assert t.metadata.properties["write.exact-bounds-columns"] == "label"
    t.append(spark.createDataFrame([Row(k=100, label="zz")],
                                   "k bigint, label string"))
    # bounds from pre- and post-rename files both serve under the new name
    assert t.scan().metadata_min_max("label") == ("t000", "zz")

    t.update_schema().drop_column("label").commit()
    assert "write.exact-bounds-columns" not in t.metadata.properties


def test_partition_pruning_survives_source_column_rename(spark, catalog):
    """r6 probe (passed as designed, pinned): renaming an identity
    partition's SOURCE column keeps everything working — pruning by the
    new name, value reconstitution on read, appends under the same spec
    (the spec field keeps its own name, keyed by source field id)."""
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec

    df = spark.createDataFrame(
        [Row(k=i, region="eu" if i % 2 else "us", v=float(i)) for i in range(10)])
    sch = from_spark_schema(df.schema)
    fid = {f.name: f.field_id for f in sch.fields}
    spec = PartitionSpec(0, (PartitionField(fid["region"], 1000, "identity", "region"),))
    t = catalog.create_table("db", "part_rename", sch, spec=spec)
    t.append(df)
    n_all = len(t.scan().plan_files())

    t.update_schema().rename_column("region", "zone").commit()
    assert len(t.scan().filter(gi.eq("zone", "eu")).plan_files()) < n_all
    assert t.scan().filter(gi.eq("zone", "eu")).count() == 5
    assert {r.zone for r in t.scan().filter(gi.eq("zone", "eu")).to_df().collect()} == {"eu"}
    t.append(spark.createDataFrame([Row(k=100, zone="ap", v=1.0)]))
    assert t.scan().count() == 11
    assert t.scan().filter(gi.eq("zone", "ap")).count() == 1


@pytest.mark.soak
def test_every_mutation_retries_past_concurrent_append(spark, catalog):
    """r6 probe BUG FIX (systemic): only append paths wrapped commits in
    _retrying — delete (CoW + MoR), update, merge, delete_equality,
    overwrite and rewrite_data_files all died with CommitConflictError when
    any writer landed between their metadata read and their commit, and the
    CoW variants rebuilt from stale state would have dropped the racer's
    rows. Each now rebuilds against reloaded metadata under _retrying.
    The race is injected deterministically: the first commit attempt
    triggers a concurrent append through a second handle."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.table.transaction import delete_equality

    def make(name):
        df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(10)])
        t = catalog.create_table("db", name, from_spark_schema(df.schema))
        t.append(df)
        return t

    def inject_conflict(t, racer_rows):
        """First commit attempt loses to a concurrent append of racer_rows."""
        real = t._commit_fn
        state = {"fired": False}

        def wrapped(md, v):
            if not state["fired"]:
                state["fired"] = True
                t2 = catalog.load_table("db", t.identifier[-1])
                t2.append(spark.createDataFrame(racer_rows))
            return real(md, v)

        t._commit_fn = wrapped
        return t

    # CoW delete: racer's row survives, delete applies
    t = inject_conflict(make("race_del"), [Row(k=100, v=100.0)])
    t.delete(gi.eq("k", 3))
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100]

    # MoR delete
    t = inject_conflict(make("race_mor"), [Row(k=100, v=100.0)])
    t.delete(gi.eq("k", 3), mode="merge-on-read")
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100]

    # update
    t = inject_conflict(make("race_upd"), [Row(k=100, v=100.0)])
    t.update(gi.eq("k", 3), {"v": -1.0})
    vals = {r.k: r.v for r in t.to_df().collect()}
    assert vals[3] == -1.0 and vals[100] == 100.0

    # merge (upsert shape)
    t = inject_conflict(make("race_mrg"), [Row(k=100, v=100.0)])
    t.merge(spark.createDataFrame([Row(k=3, v=-3.0), Row(k=50, v=50.0)]), ["k"])
    vals = {r.k: r.v for r in t.to_df().collect()}
    assert vals[3] == -3.0 and vals[50] == 50.0 and vals[100] == 100.0

    # equality delete (file written once, sequence re-stamped on retry)
    t = inject_conflict(make("race_eq"), [Row(k=100, v=100.0)])
    delete_equality(t, spark.createDataFrame([Row(k=3)]), ["k"])
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100]

    # selective overwrite
    t = inject_conflict(make("race_ovr"), [Row(k=100, v=100.0)])
    t.overwrite(spark.createDataFrame([Row(k=3, v=-3.0)]), filter=gi.eq("k", 3))
    vals = {r.k: r.v for r in t.to_df().collect()}
    assert vals[3] == -3.0 and vals[100] == 100.0 and len(vals) == 11

    # compaction: racer's file must be IN the replacement snapshot
    # (second append so the table holds >= min_input_files data files and
    # the rewrite actually commits)
    t = make("race_rw")
    t.append(spark.createDataFrame([Row(k=50, v=50.0)]))
    t = inject_conflict(t, [Row(k=100, v=100.0)])
    assert t.rewrite_data_files() is not None
    assert sorted(r.k for r in t.to_df().collect()) == list(range(10)) + [50, 100]

    # manifest rewrite (r7): the REPLACE snapshot must rebuild from the
    # RELOADED live set, or the racer's file silently drops from the table
    t = make("race_rwm")
    t = inject_conflict(t, [Row(k=100, v=100.0)])
    t.rewrite_manifests(target_entries_per_manifest=2)
    assert sorted(r.k for r in t.to_df().collect()) == list(range(10)) + [100]


@pytest.mark.soak
def test_mutations_follow_concurrent_column_rename(spark, catalog):
    """r6 probe BUG FIX: user-supplied names bind to FIELD IDS at operation
    entry and re-bind per retry attempt. Before, a retry re-aligned the
    merge source / update assignment / overwrite replacement by NAME
    against the reloaded schema, so a concurrent rename NULLed the renamed
    column on every row the mutation touched (silent data loss); a delete
    filter on the stale name only worked when Spark's analyzer could
    resolve it through the alignment Project into files that physically
    carried it. Now renames follow the field, drops of a referenced field
    raise, and stale names are rejected eagerly."""
    from go_iceberg_spark.errors import ValidationError

    def make(name):
        df = spark.createDataFrame([Row(k=i, v=float(i), w=f"s{i}") for i in range(10)])
        t = catalog.create_table("db", name, from_spark_schema(df.schema))
        t.append(df)
        return t

    def inject_rename(t, old, new):
        real = t._commit_fn
        state = {"fired": False}

        def wrapped(md, v):
            if not state["fired"]:
                state["fired"] = True
                t2 = catalog.load_table("db", t.identifier[-1])
                t2.update_schema().rename_column(old, new).commit()
            return real(md, v)

        t._commit_fn = wrapped
        return t

    # merge racing rename of a non-key column: values follow the field
    t = inject_rename(make("ren_mrg"), "v", "v2")
    t.merge(spark.createDataFrame([Row(k=3, v=-3.0, w="X"), Row(k=50, v=50.0, w="n")]), ["k"])
    rows = {r.k: (r.v2, r.w) for r in t.to_df().collect()}
    assert rows[3] == (-3.0, "X") and rows[50] == (50.0, "n") and rows[4] == (4.0, "s4")

    # merge racing rename of the KEY column
    t = inject_rename(make("ren_key"), "k", "id")
    t.merge(spark.createDataFrame([Row(k=3, v=-3.0, w="X")]), ["k"])
    rows = {r.id: r.v for r in t.to_df().collect()}
    assert rows[3] == -3.0 and len(rows) == 10

    # update racing rename of the assigned column
    t = inject_rename(make("ren_upd"), "v", "v2")
    t.update(gi.eq("k", 5), {"v": -5.0})
    vals = {r.k: r.v2 for r in t.to_df().collect()}
    assert vals[5] == -5.0 and vals[4] == 4.0

    # CoW + MoR delete racing rename of the filter column
    for name, mode in (("ren_del", "copy-on-write"), ("ren_mor", "merge-on-read")):
        t = inject_rename(make(name), "v", "v2")
        t.delete(gi.eq("v", 3.0), mode=mode)
        assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 4, 5, 6, 7, 8, 9]

    # selective overwrite racing rename: replacement rows follow the field too
    t = inject_rename(make("ren_ovr"), "v", "v2")
    t.overwrite(spark.createDataFrame([Row(k=3, v=-3.0, w="X")]), filter=gi.eq("v", 3.0))
    rows = {r.k: r.v2 for r in t.to_df().collect()}
    assert rows[3] == -3.0 and rows[4] == 4.0 and len(rows) == 10

    # racing a DROP of a referenced column is a real conflict -> clear error
    t = make("ren_drop")
    real = t._commit_fn
    fired = {}

    def wrapped(md, v):
        if not fired:
            fired["x"] = True
            t2 = catalog.load_table("db", "ren_drop")
            t2.update_schema().drop_column("v").commit()
        return real(md, v)

    t._commit_fn = wrapped
    with pytest.raises(ValidationError, match="dropped by a concurrent"):
        t.update(gi.eq("k", 5), {"v": -5.0})

    # stale names are rejected eagerly (no race), same as update always did
    t = make("ren_eager")
    t.update_schema().rename_column("v", "v2").commit()
    with pytest.raises(ValidationError, match="unknown column 'v'"):
        t.delete(gi.eq("v", 3.0))


def test_transaction_delete_filter_follows_rename_between_stage_and_commit(spark, catalog):
    """r6: Transaction.delete stages (schema, filter) pairs; commit re-binds
    each filter from its stage-time schema to the winning schema by field
    id. A rename BETWEEN stage and commit (the transaction window is wide
    by design) must follow the field, and a stale name at stage time is
    rejected eagerly."""
    from go_iceberg_spark.errors import ValidationError
    from go_iceberg_spark.table.transaction import Transaction

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(10)])
    t = catalog.create_table("db", "txn_ren", from_spark_schema(df.schema))
    t.append(df)

    tx = Transaction(t)
    tx.delete(gi.eq("v", 3.0))
    tx.append(spark.createDataFrame([Row(k=50, v=50.0)]))
    # rename lands through a second handle while the transaction is open
    t2 = catalog.load_table("db", "txn_ren")
    t2.update_schema().rename_column("v", "v2").commit()
    t.refresh()
    tx.commit()
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 4, 5, 6, 7, 8, 9, 50]

    # stale name at stage time raises immediately, not at commit
    tx2 = Transaction(t)
    with pytest.raises(ValidationError, match="unknown column 'v'"):
        tx2.delete(gi.eq("v", 1.0))


def test_rewrite_does_not_reapply_eq_delete_to_later_files(spark, catalog):
    """A CoW rewrite (update and merge read their candidates through
    ``scan.read_files``) applies an equality delete only to the files older
    than it: grouping candidate files by schema alone would apply it to
    EVERY file of the group when any ONE file predated it, silently
    deleting rows re-inserted AFTER the delete. ``scan_tasks`` assigns
    delete files per data file by sequence number, and the reader groups
    files by that applicable delete set."""
    from pyspark.sql import functions as F

    import go_iceberg_spark as gi
    from go_iceberg_spark.table.mutate import merge
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    t = catalog.create_table("db", "rwseq", from_spark_schema(df.schema))
    t.append(df)                                                     # seq 1
    delete_equality(t, spark.createDataFrame([(1,)], "k bigint"), ["k"])  # seq 2
    t.append(spark.createDataFrame([(1, "reborn")], "k bigint, v string"))  # seq 3
    assert sorted((r.k, r.v) for r in t.to_df().collect()) == [(1, "reborn"), (2, "b")]

    # update rewrites BOTH files: the reborn row must survive (uppercased)
    t.update(gi.gte("k", 0), {"v": F.upper(F.col("v"))})
    assert sorted((r.k, r.v) for r in t.to_df().collect()) == [(1, "REBORN"), (2, "B")]

    # same shape through MERGE (candidates span the delete boundary again)
    delete_equality(t, spark.createDataFrame([(2,)], "k bigint"), ["k"])
    t.append(spark.createDataFrame([(2, "back")], "k bigint, v string"))
    merge(t, spark.createDataFrame([(1, "m1")], "k bigint, v string"), ["k"])
    assert sorted((r.k, r.v) for r in t.to_df().collect()) == [(1, "m1"), (2, "back")]


def test_add_files_time_travel_expiry_reimport(spark, catalog, tmp_path):
    """r7 probe sweep: add_files composed with time travel, expiry, rollback
    and re-import. External files must survive expiry AND CoW deletes on
    disk; a tag keeps the import snapshot time-travelable across expiry; a
    path that left the live set may be re-imported."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(3)])
    t = catalog.create_table("db", "af_compose", from_spark_schema(df.schema))
    t.append(df)
    ext = str(tmp_path / "ext1.parquet")
    pq.write_table(pa.table({"k": pa.array([100, 101], pa.int64()),
                             "v": pa.array([100.0, 101.0])}), ext)
    t.add_files([ext])
    s_import = t.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([Row(k=7, v=7.0)]))
    t.create_tag("keep", s_import)

    t.expire_snapshots(older_than=int(_time.time() * 1000) + 10_000, retain_last=1)
    assert os.path.exists(ext), "expiry deleted the EXTERNAL file"
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 7, 100, 101]
    assert sorted(r.k for r in t.scan().use_snapshot(s_import).to_df().collect()) \
        == [0, 1, 2, 100, 101]

    t.rollback_to(s_import)
    t.delete(gi.gte("k", 100))  # file leaves the live set
    assert os.path.exists(ext), "CoW delete removed the external file from disk"
    t.add_files([ext])          # re-import a non-live path
    t.expire_snapshots(older_than=int(_time.time() * 1000) + 10_000, retain_last=1)
    assert os.path.exists(ext)
    assert sorted(r.k for r in t.to_df().collect()) == [0, 1, 2, 100, 101]


def test_streaming_sink_branch_refs_rollback(spark, catalog):
    """r7 probe sweep: exactly-once sink markers composed with WAP branches.
    A staged audit branch never affects main's dedup; a sink batch landing
    on main after the branch fork makes fast_forward fail ancestry; after
    rolling main back to the fork the publish applies and the abandoned
    batch replays exactly once."""
    import pytest as _pytest

    from go_iceberg_spark.errors import ValidationError
    from go_iceberg_spark.streaming.stream import (
        HIGH_WATER_PROP,
        append_batch_exactly_once,
    )

    proto = spark.createDataFrame([Row(k=1, v=1.0)])
    t = catalog.create_table("db", "sink_branch", from_spark_schema(proto.schema))
    t.append(proto)
    assert append_batch_exactly_once(t, spark.createDataFrame([Row(k=2, v=2.0)]), "ck", 0)
    base = t.current_snapshot().snapshot_id
    t.create_branch("audit")
    t.append_to_branch("audit", spark.createDataFrame([Row(k=3, v=3.0)]))
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(k=2, v=2.0)]), "ck", 0) is False  # still deduped
    assert append_batch_exactly_once(t, spark.createDataFrame([Row(k=4, v=4.0)]), "ck", 1)
    with _pytest.raises(ValidationError):
        t.fast_forward("main", "audit")  # main diverged past the fork
    assert sorted(r.k for r in t.to_df().collect()) == [1, 2, 4]

    t.rollback_to(base)
    assert t.metadata.properties[HIGH_WATER_PROP + "ck"] == "0"
    t.fast_forward("main", "audit")
    assert sorted(r.k for r in t.to_df().collect()) == [1, 2, 3]
    assert append_batch_exactly_once(t, spark.createDataFrame([Row(k=4, v=4.0)]), "ck", 1) is True
    assert append_batch_exactly_once(t, spark.createDataFrame([Row(k=4, v=4.0)]), "ck", 1) is False
    assert sorted(r.k for r in t.to_df().collect()) == [1, 2, 3, 4]


def test_eq_delete_spec_evolution_compaction(spark, catalog):
    """r7 probe sweep: equality deletes composed with partition evolution
    and compaction in one lineage — the compaction rewrites a MIXED-spec
    file set with eq-deletes applied; time travel to the pre-evolution
    snapshot sees neither; a post-compaction eq-delete still applies."""
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame([Row(k=i, v=float(i), s=f"s{i % 3}") for i in range(12)])
    sch = from_spark_schema(df.schema)
    kid = next(f.field_id for f in sch.fields if f.name == "k")
    t = catalog.create_table("db", "evo_compose", sch,
                             spec=PartitionSpec(0, (PartitionField(kid, 1000, "bucket[4]", "kb"),)))
    t.append(df)
    s0 = t.current_snapshot().snapshot_id
    delete_equality(t, spark.createDataFrame([(2,), (5,)], "k bigint"), ["k"])
    t.update_partition_spec(("s", "truncate[1]"))
    t.append(spark.createDataFrame([Row(k=20, v=20.0, s="zz")]))
    t.create_tag("pre", s0)
    t.rewrite_data_files(min_input_files=1)
    assert sorted(r.k for r in t.to_df().collect()) == sorted(set(range(12)) - {2, 5}) + [20]
    assert sorted(r.k for r in t.scan().use_snapshot(s0).to_df().collect()) == list(range(12))
    delete_equality(t, spark.createDataFrame([(20,), (7,)], "k bigint"), ["k"])
    assert sorted(r.k for r in t.to_df().collect()) == sorted(set(range(12)) - {2, 5, 7})


def test_add_files_after_schema_evolution_shapes(spark, catalog, tmp_path):
    """r7 probe sweep, pinned pass-as-designed: after an add_column, an
    import whose file LACKS the new (optional) column is rejected — the
    add_files contract requires every table column in the file (the engine
    could NULL-fill, but a silent fill hides data-shape drift at import
    time); a file with an EXTRA unknown column is accepted and the extra
    column is ignored by scans (projection is by table schema)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from go_iceberg_spark.errors import ValidationError
    from go_iceberg_spark.schema import INT

    df = spark.createDataFrame([Row(k=1, v=1.0)])
    t = catalog.create_table("db", "af_evo", from_spark_schema(df.schema))
    t.append(df)
    t.update_schema().add_column("w", INT).commit()

    old_shape = str(tmp_path / "old.parquet")
    pq.write_table(pa.table({"k": pa.array([9], pa.int64()), "v": pa.array([9.0])}), old_shape)
    with _pytest.raises(ValidationError, match="lack table columns"):
        t.add_files([old_shape])

    extra = str(tmp_path / "extra.parquet")
    pq.write_table(pa.table({"k": pa.array([10], pa.int64()), "v": pa.array([10.0]),
                             "w": pa.array([1], pa.int32()), "zz": pa.array(["x"])}), extra)
    t.add_files([extra])
    assert sorted((r.k, r.w) for r in t.to_df().collect()) == [(1, None), (10, 1)]


def test_eq_delete_across_key_type_widening(spark, catalog):
    """r7 probe sweep: equality deletes keyed on a column that is WIDENED
    (int -> long) mid-lineage — pre-widen deletes (int frames) and
    post-widen deletes (long frames) both apply by field id across the
    mixed-width file set."""
    from go_iceberg_spark.schema import LONG
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame([Row(k=i, w=i % 4) for i in range(8)], "k bigint, w int")
    t = catalog.create_table("db", "w_eq", from_spark_schema(df.schema))
    t.append(df)
    delete_equality(t, spark.createDataFrame([(3,)], "w int"), ["w"])
    t.update_schema().update_column_type("w", LONG).commit()
    t.append(spark.createDataFrame([Row(k=100, w=3)], "k bigint, w bigint"))
    delete_equality(t, spark.createDataFrame([(2,)], "w bigint"), ["w"])
    got = sorted((r.k, r.w) for r in t.to_df().collect())
    want = sorted([(k, k % 4) for k in range(8) if k % 4 not in (2, 3)] + [(100, 3)])
    assert got == want


def test_branch_survives_expiry_and_diverged_publish_refused(spark, catalog):
    """r7 probe sweep, pinned pass-as-designed: a dev branch's head (and its
    readability) survives expire_snapshots; fast_forward onto a main that
    diverged past the fork refuses with ValidationError and leaves the
    branch intact."""
    import time as _time

    import pytest as _pytest

    from go_iceberg_spark.errors import ValidationError

    df = spark.createDataFrame([Row(k=1, v=1.0)])
    t = catalog.create_table("db", "bret", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("dev")
    for i in range(4):
        t.append_to_branch("dev", spark.createDataFrame([Row(k=10 + i, v=float(i))]))
    for i in range(3):
        t.append(spark.createDataFrame([Row(k=50 + i, v=float(i))]))
    t.expire_snapshots(older_than=int(_time.time() * 1000) + 10_000, retain_last=1)
    assert t.scan().use_ref("dev").to_df().count() == 5
    with _pytest.raises(ValidationError):
        t.fast_forward("main", "dev")
    assert t.scan().use_ref("dev").to_df().count() == 5


def test_rewrite_manifests_spec_evolution_eq_delete_expiry(spark, catalog):
    """r7 probe sweep: manifest-list bounds composed with the round's
    vocabulary — partition evolution mid-lineage, an eq-delete, a
    member-clustering rewrite over the MIXED-SPEC entry set, filtered scans
    across both generations, time travel past the rewrite, and expiry
    sweeping the pre-rewrite members while the clustered ones survive."""
    import os
    import time

    from go_iceberg_spark.table.metadata import read_manifest_list
    from go_iceberg_spark.table.transaction import delete_equality

    df = spark.createDataFrame(
        [Row(id=i, tag="a" if i % 2 else "b", v=float(i)) for i in range(20)])
    t = catalog.create_table("db", "rwm_compose", from_spark_schema(df.schema))
    t.append(df)
    s0 = t.current_snapshot().snapshot_id
    t.update_partition_spec(("tag", "identity"))
    t.append(spark.createDataFrame([Row(id=100 + i, tag="c", v=1.0) for i in range(5)]))
    delete_equality(t, spark.createDataFrame([(3,), (100,)], "id bigint"), ["id"])
    expect = sorted(set(range(20)) - {3} | {101, 102, 103, 104})

    t.rewrite_manifests(target_entries_per_manifest=2)
    assert sorted(r.id for r in t.to_df().collect()) == expect
    ml = read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path))
    assert all("bounds" in m and "nd" in m for m in ml)
    assert sorted(r.id for r in t.scan().filter(gi.gt("id", 99)).to_df().collect()) \
        == [101, 102, 103, 104]
    assert sorted(r.id for r in t.scan().use_snapshot(s0).to_df().collect()) \
        == list(range(20))

    t.expire_snapshots(older_than=int(time.time() * 1000) + 10_000,
                       retain_last=1, sweep_grace_ms=0)
    assert sorted(r.id for r in t.to_df().collect()) == expect
    assert sorted(r.id for r in t.scan().filter(gi.lt("id", 10)).to_df().collect()) \
        == [0, 1, 2, 4, 5, 6, 7, 8, 9]


def test_rewrite_manifests_blocks_stale_wap_fast_forward(spark, catalog):
    """r7 probe sweep, pinned pass-as-designed: a metadata-only
    rewrite_manifests on main AFTER a WAP branch diverged makes
    publish-by-fast-forward refuse (ancestry rule) — Iceberg semantics;
    the audit branch must be re-staged on the new main."""
    df = spark.createDataFrame([Row(id=i, x=i) for i in range(10)])
    t = catalog.create_table("db", "rwm_wap", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("audit")
    t.append_to_branch("audit", spark.createDataFrame([Row(id=200, x=0)]))
    t.rewrite_manifests(target_entries_per_manifest=2)
    assert t.to_df().count() == 10
    with pytest.raises(gi.ValidationError):
        t.fast_forward("main", "audit")


def test_add_files_bounds_ride_manifest_rewrite(spark, catalog, tmp_path):
    """r7 probe sweep, pinned pass-as-designed: zero-copy imported files
    carry footer-derived stats, so after a member-clustering rewrite their
    manifest-list bounds are real (not conservative blanks) and a point
    scan into the imported range opens only the imported member."""
    import os

    from go_iceberg_spark.table import planning as P
    from go_iceberg_spark.table.metadata import read_manifest_list
    from go_iceberg_spark.table.scan import ScanBuilder

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(10)])
    t = catalog.create_table("db", "af_bounds", from_spark_schema(df.schema))
    t.append(df)
    ext = str(tmp_path / "ext")
    spark.createDataFrame([Row(id=500 + i, v=1.0) for i in range(10)]) \
        .coalesce(1).write.mode("overwrite").parquet(ext)
    t.add_files([os.path.join(ext, f) for f in os.listdir(ext)
                 if f.endswith(".parquet")])
    t.rewrite_manifests(target_entries_per_manifest=1)

    ml = read_manifest_list(
        os.path.join(t.location, t.current_snapshot().manifest_path))
    assert len(ml) == 2 and all("bounds" in m for m in ml)
    assert any('"min": 500' in m["bounds"] for m in ml)

    ScanBuilder._CACHE_ENTRY_LIMIT = 0
    try:
        t._manifest_cache.clear()
        opened = []
        real = P.prune_manifest_driver

        def spy(p, *a, **k):
            opened.append(p)
            return real(p, *a, **k)

        P.prune_manifest_driver = spy
        try:
            got = sorted(r.id for r in
                         t.scan().filter(gi.eq("id", 505)).to_df().collect())
        finally:
            P.prune_manifest_driver = real
        assert got == [505] and len(opened) == 1, opened
    finally:
        ScanBuilder._CACHE_ENTRY_LIMIT = 10_000


def test_stream_markers_survive_manifest_rewrite(spark, catalog):
    """r7 probe sweep, pinned pass-as-designed: exactly-once batch markers
    ride table properties + snapshot summaries, so a metadata-only
    rewrite_manifests (and a following expiry) between micro-batches
    neither resurrects a replayed batch nor blocks new ones."""
    import time

    from go_iceberg_spark.streaming.stream import append_batch_exactly_once

    df0 = spark.createDataFrame([Row(id=0, v=0.0)])
    t = catalog.create_table("db", "st_rwm", from_spark_schema(df0.schema))
    b0 = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)])
    b1 = spark.createDataFrame([Row(id=10 + i, v=1.0) for i in range(5)])
    assert append_batch_exactly_once(t, b0, "ck", 0)
    assert append_batch_exactly_once(t, b1, "ck", 1)

    t.rewrite_manifests(target_entries_per_manifest=1)
    assert not append_batch_exactly_once(t, b0, "ck", 0)  # replay no-ops
    assert not append_batch_exactly_once(t, b1, "ck", 1)
    assert t.to_df().count() == 10
    assert append_batch_exactly_once(
        t, spark.createDataFrame([Row(id=99, v=9.0)]), "ck", 2)

    t.expire_snapshots(older_than=int(time.time() * 1000) + 10_000,
                       retain_last=1)
    assert not append_batch_exactly_once(t, b1, "ck", 1)
    assert t.to_df().count() == 11


def test_incremental_and_changelog_cross_wap_publish(spark, catalog):
    """r8 probe pin: after fast_forward publishes an audit branch, an
    incremental/changelog range opened from a pre-branch snapshot follows
    main's NEW ancestry through the published branch commits — including a
    mid-branch from-snapshot and a post-publish append across the seam."""
    df0 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, v double")
    t = catalog.create_table("db", "ffinc", from_spark_schema(df0.schema))
    t.append(df0)
    s0 = t.current_snapshot().snapshot_id
    t.create_branch("aud")
    t.append_to_branch("aud", spark.createDataFrame([(10, 1.0)], "id bigint, v double"))
    t.append_to_branch("aud", spark.createDataFrame([(11, 1.0)], "id bigint, v double"))
    sb = t.metadata.refs["aud"].snapshot_id
    t.fast_forward("main", "aud")
    assert sorted(r.id for r in t.incremental_scan(s0).collect()) == [10, 11]
    ch = sorted((r.id, r._change_type, r._change_ordinal) for r in t.changes(s0).collect())
    assert ch == [(10, "insert", 0), (11, "insert", 1)]
    mid = t.snapshot_by_id(sb).parent_snapshot_id
    assert sorted(r.id for r in t.incremental_scan(mid).collect()) == [11]
    t.append(spark.createDataFrame([(12, 1.0)], "id bigint, v double"))
    assert sorted(r.id for r in t.incremental_scan(s0).collect()) == [10, 11, 12]
    # rollback below the publish abandons the branch rows and the rewrite
    t.rewrite_manifests(target_entries_per_manifest=1)
    t.rollback_to(s0)
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2]


def test_range_distribution_survives_rename_drop_and_spec_evolution(spark, catalog):
    """r8 probe pin: write.distribution-mode=range resolves sort and
    partition fields by FIELD ID — renaming either keeps writes range-
    distributed and scans pruning; dropping the sort column degrades the
    writer gracefully (unsorted, still partitioned); dropping the default
    spec's source column refuses."""
    from go_iceberg_spark.errors import ValidationError
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec

    proto = spark.createDataFrame([(1, 1.0, "a")], "k bigint, x double, tag string")
    sch = from_spark_schema(proto.schema)
    kid = next(f.field_id for f in sch.fields if f.name == "k")
    t = catalog.create_table(
        "db", "rdsr", sch,
        spec=PartitionSpec(0, (PartitionField(kid, 1000, "identity", "k"),)),
        properties={"write.distribution-mode": "range"})
    t.replace_sort_order("x")
    t.append(spark.createDataFrame(
        [(i % 2, float(i), f"t{i}") for i in range(40)], "k bigint, x double, tag string"))
    t.update_schema().rename_column("x", "x2").commit()
    t.append(spark.createDataFrame(
        [(i % 2, float(100 + i), f"u{i}") for i in range(40)],
        "k bigint, x2 double, tag string"))
    assert t.scan().filter(gi.gt("x2", 130.0)).to_df().count() == 9
    t.update_schema().rename_column("k", "k2").commit()
    t.append(spark.createDataFrame([(7, 999.0, "z")], "k2 bigint, x2 double, tag string"))
    assert [r.tag for r in t.scan().filter(gi.eq("k2", 7)).to_df().collect()] == ["z"]
    t.update_schema().drop_column("x2").commit()
    t.append(spark.createDataFrame([(8, "w")], "k2 bigint, tag string"))
    assert [r.tag for r in t.scan().filter(gi.eq("k2", 8)).to_df().collect()] == ["w"]
    t.update_partition_spec(("tag", "truncate[1]"))
    t.append(spark.createDataFrame([(9, "qq"), (9, "rr")], "k2 bigint, tag string"))
    assert [r.tag for r in t.scan().filter(gi.starts_with("tag", "q")).to_df().collect()] == ["qq"]
    with pytest.raises(ValidationError):
        t.update_schema().drop_column("tag").commit()


def test_exactly_once_upsert_markers_survive_interleaved_maintenance(spark, catalog):
    """r8 probe pin: streaming upsert-sink (ckpt, batch) markers interleaved
    with rewrite_manifests and compaction — replays dedupe across the
    maintenance replaces, the changelog nets over the mixed history, and a
    rollback below a batch lets exactly that batch replay."""
    from go_iceberg_spark.streaming.stream import (
        BATCH_MARKER_KEY, HIGH_WATER_PROP, HIGH_WATER_SEQ_PROP,
        _batch_already_committed)
    from go_iceberg_spark.table.table import COMMIT_SEQ_PLACEHOLDER

    def upsert_once(tbl, df, ck, bid):
        tbl.refresh()
        if _batch_already_committed(tbl, ck, bid):
            return False
        tbl.upsert(df, ["id"],
                   summary_extra={BATCH_MARKER_KEY: f"{ck}:{bid}"},
                   properties_extra={HIGH_WATER_PROP + ck: str(bid),
                                     HIGH_WATER_SEQ_PROP + ck: COMMIT_SEQ_PLACEHOLDER},
                   pre_commit_check=lambda: not _batch_already_committed(tbl, ck, bid))
        return True

    mk = lambda rows: spark.createDataFrame(rows, "id bigint, v double")
    t = catalog.create_table("db", "eomx", from_spark_schema(mk([(1, 1.0)]).schema))
    t.append(mk([(i, 0.0) for i in range(6)]))
    assert upsert_once(t, mk([(1, 1.0), (10, 1.0)]), "ck", 0)
    after_b0 = t.current_snapshot().snapshot_id
    t.rewrite_manifests(target_entries_per_manifest=2)
    assert upsert_once(t, mk([(2, 2.0), (11, 2.0)]), "ck", 1)
    t.rewrite_data_files(min_input_files=2)
    assert not upsert_once(t, mk([(2, 9.9)]), "ck", 1)
    assert not upsert_once(t, mk([(1, 9.9)]), "ck", 0)
    want = sorted([(0, 0.0), (1, 1.0), (2, 2.0), (3, 0.0), (4, 0.0),
                   (5, 0.0), (10, 1.0), (11, 2.0)])
    assert sorted((r.id, r.v) for r in t.to_df().collect()) == want
    ins = t.changes().filter("_change_type = 'insert'").count()
    dels = t.changes().filter("_change_type = 'delete'").count()
    assert ins - dels == len(want)
    t.rollback_to(after_b0)
    assert upsert_once(t, mk([(2, 2.0), (11, 2.0)]), "ck", 1)
    assert not upsert_once(t, mk([(1, 9.9)]), "ck", 0)
    assert sorted((r.id, r.v) for r in t.to_df().collect()) == want


def test_eq_delete_bounds_prune_across_rename_and_widen(spark, catalog):
    """r9 probe (VERDICT r8 task #4a): eq-delete bounds pruning x schema
    evolution — the key column is RENAMED and then WIDENED int->long
    between the delete file's write and the changelog read. The pruner's
    fid->stats match must survive both (field ids are the stable identity;
    int bounds stay ints under widening), and the changelog must surface
    exactly the deleted rows while the disjoint file is still skipped."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.schema import LONG
    from go_iceberg_spark.table.incremental import files_that_may_lose_rows
    from go_iceberg_spark.table.metadata import CONTENT_DATA
    from go_iceberg_spark.table.transaction import delete_equality

    lo = spark.createDataFrame([(i, f"lo{i}") for i in range(5)],
                               "kc int, tag string").coalesce(1)
    hi = spark.createDataFrame([(100 + i, f"hi{i}") for i in range(5)],
                               "kc int, tag string").coalesce(1)
    t = catalog.create_table("db", "eqsev", from_spark_schema(lo.schema))
    t.append(lo)
    t.append(hi)
    delete_equality(t, spark.createDataFrame([(102,)], "kc int"), ["kc"])
    t.update_schema().rename_column("kc", "key_col").commit()
    t.update_schema().update_column_type("key_col", LONG).commit()

    dels = sorted((r.key_col, r.tag) for r in t.changes().collect()
                  if r._change_type == "delete")
    assert dels == [(102, "hi2")], dels
    assert t.to_df().count() == 9

    # the pruner really skipped the low file under the evolved schema
    snap = t.current_snapshot()
    live = [e for e in t.manifest_entries(snap) if e.content == CONTENT_DATA]
    new_dels = [e for e in t.manifest_entries(snap) if e.content != CONTENT_DATA]
    kept = files_that_may_lose_rows(t.metadata.current_schema, new_dels, live)
    assert len(kept) == 1, [e.file_path for e in kept]

    # scan-side filters on the evolved long column still prune + match
    assert t.scan().filter(gi.gt("key_col", 1000)).plan_files() == []
    assert {r.tag for r in t.scan().filter(gi.gte("key_col", 100)).to_df().collect()} \
        == {"hi0", "hi1", "hi3", "hi4"}


def test_mutable_ivm_across_maintenance_replace_and_eq_delete(spark, catalog):
    """r9 probe (VERDICT r8 task #4b): mutable-base IVM where a maintenance
    REPLACE (rewrite_data_files, rows-preserved) sits between from and to
    while an eq-delete ALSO lands in the range — the compaction's
    carryover must net to zero in the changelog (rows-preserved marker x
    live->dead diff interplay) so both the join-view and the
    aggregate-view refresh still equal the full recompute."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.table.incremental import (
        incremental_agg_refresh_changelog,
        incremental_join_refresh_changelog,
    )
    from go_iceberg_spark.table.transaction import delete_equality

    a_rows = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(24)], "id bigint, k bigint, v double")
    b_rows = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(6)], "k bigint, label string")
    ta = catalog.create_table("db", "ivma", from_spark_schema(a_rows.schema))
    ta.append(a_rows)
    tb = catalog.create_table("db", "ivmb", from_spark_schema(b_rows.schema))
    tb.append(b_rows)
    a0, b0 = ta.current_snapshot().snapshot_id, tb.current_snapshot().snapshot_id
    m0 = ta.to_df().join(tb.to_df(), "k")
    m0.collect()

    def agg(df):
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("v").alias("sv"))

    g0 = agg(ta.to_df())
    g0.collect()

    # the range: append + CoW update + maintenance REPLACE + eq-delete
    ta.append(spark.createDataFrame([(100, 9, 100.0)], a_rows.schema))
    ta.update(gi.eq("k", 1), {"v": -1.0})
    assert ta.rewrite_data_files(min_input_files=2) is not None
    delete_equality(ta, spark.createDataFrame([(2,)], "k bigint"), ["k"])
    tb.append(spark.createDataFrame([(9, "dim9")], b_rows.schema))

    m1 = incremental_join_refresh_changelog(m0, ta, tb, ["k"],
                                            from_a=a0, from_b=b0)
    full = ta.to_df().join(tb.to_df(), "k")
    assert not m1.exceptAll(full).count() and not full.exceptAll(m1).count()

    g1 = incremental_agg_refresh_changelog(
        g0, ta, ["k"], from_snapshot_id=a0,
        count_col="n", sum_cols={"sv": "v"})
    got = sorted((r.k, r.n, r.sv) for r in g1.collect())
    want = sorted((r.k, r.n, r.sv) for r in agg(ta.to_df()).collect())
    assert got == want, (got, want)
    assert not any(k == 2 for k, _, _ in got)  # eq-deleted group died


def test_cherrypick_across_schema_evolution(spark, catalog):
    """r9 probe: a commit staged on an audit branch BEFORE a rename+widen
    on main must still cherry-pick cleanly — the picked files carry their
    write-time schema id, and the scan aligns them to the evolved schema
    by field id (old int values widen, the renamed column resolves)."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import LONG

    df = spark.createDataFrame([(i, i * 10) for i in range(5)], "id int, val int")
    t = catalog.create_table("db", "cpse", from_spark_schema(df.schema))
    t.append(df)
    t.create_branch("audit")
    staged = t.append_to_branch(
        "audit", spark.createDataFrame([(100, 1000)], "id int, val int"))
    t.update_schema().rename_column("val", "value").commit()
    t.update_schema().update_column_type("value", LONG).commit()
    t.cherrypick(staged.snapshot_id)
    rows = {(r.id, r.value) for r in t.to_df().collect()}
    assert (100, 1000) in rows and len(rows) == 6
    # and the changelog attributes the picked rows under the evolved names
    ins = [r for r in t.changes().collect()
           if r._change_type == "insert" and r.id == 100]
    assert len(ins) == 1 and ins[0].value == 1000


def test_metadata_min_max_across_rename_and_widen(spark, catalog):
    """r9 probe: metadata MIN/MAX resolves the column by CURRENT name but
    matches stats by field id — bounds written before a rename and an
    int->long widen must still aggregate with bounds written after."""
    from go_iceberg_spark.schema import LONG

    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    t = catalog.create_table("db", "mmse", from_spark_schema(df.schema))
    t.append(df)
    t.update_schema().rename_column("k", "key").commit()
    t.update_schema().update_column_type("key", LONG).commit()
    t.append(spark.createDataFrame([(10**12,), (-5,)], "key bigint"))
    assert t.scan().metadata_min_max("key") == (-5, 10**12)
    assert t.scan().metadata_min_max("k") is None  # old name gone

    # r10 (r9 ADVICE): a time-travel read pins the SNAPSHOT's schema, so
    # metadata_min_max resolves the SAME names to_df() exposes there —
    # the pre-rename snapshot answers under the OLD name and refuses the
    # current one (field id stays the stats key either way)
    pre_rename = sorted(t.snapshots(), key=lambda s: s.timestamp_ms)[0].snapshot_id
    assert t.scan().use_snapshot(pre_rename).metadata_min_max("k") == (0, 9)
    assert t.scan().use_snapshot(pre_rename).metadata_min_max("key") is None


def test_cherrypick_double_pick_rejected_after_selective_compaction(spark, catalog):
    """r10 probe (VERDICT r9 task #6a): the cherrypick double-pick guard's
    file-path check goes BLIND once a compaction rewrites the picked files —
    a selective (filter-scoped) compaction between pick and re-pick attempt
    rewrites exactly those files, so only the retained-ancestry summary scan
    stands between a re-pick and silent row duplication. Pin that it still
    rejects, and that the rejection leaves data untouched."""
    import go_iceberg_spark as gi
    from go_iceberg_spark.errors import ValidationError

    base = spark.createDataFrame([(i, f"b{i}") for i in range(5)],
                                 "k bigint, tag string")
    t = catalog.create_table("db", "cpsc", from_spark_schema(base.schema))
    t.append(base)
    t.create_branch("audit")
    staged = t.append_to_branch(
        "audit", spark.createDataFrame([(100 + i, f"g{i}") for i in range(3)],
                                       "k bigint, tag string"))
    t.cherrypick(staged.snapshot_id)
    picked_paths = {e.file_path for e in t.manifest_entries(staged)} \
        - {e.file_path for e in t.manifest_entries(t.snapshot_by_id(staged.parent_snapshot_id))}

    # selective compaction scoped to the PICKED key range rewrites exactly
    # the picked files (asserted) — the path-identity check is now blind
    t.rewrite_data_files(min_input_files=1, where=gi.gte("k", 100))
    live_paths = {e.file_path for e in t.live_entries()}
    assert not (picked_paths & live_paths), "compaction did not rewrite the picked files"

    with pytest.raises(ValidationError, match="double-pick"):
        t.cherrypick(staged.snapshot_id)
    rows = sorted((r.k, r.tag) for r in t.to_df().collect())
    assert rows == sorted([(i, f"b{i}") for i in range(5)]
                          + [(100 + i, f"g{i}") for i in range(3)])

    # expiry drops BOTH the pick-marker commit and the staged snapshot's
    # parent (rewiring its lineage) — the probe's find: a rewired snapshot's
    # entries-minus-parent diff no longer equals its added files, so a
    # re-pick would re-register base files the gap added. The r10 fix stamps
    # the rewiring and cherrypick refuses loudly instead of guessing.
    t.expire_snapshots(retain_last=1, sweep_grace_ms=0)
    assert t.snapshot_by_id(staged.snapshot_id).summary.get("parent-rewired") == "true"
    with pytest.raises(ValidationError, match="rewired"):
        t.cherrypick(staged.snapshot_id)
    assert sorted((r.k, r.tag) for r in t.to_df().collect()) == rows


@pytest.mark.soak
def test_streaming_agg_view_sink_survives_interleaved_maintenance(spark, catalog, tmp_path):
    """r10 probe (VERDICT r9 task #6b): compaction AND expiry landing on the
    agg-view table BETWEEN micro-batches must disturb neither the additive
    merge nor the exactly-once guard — expiry drops the batch-marker
    snapshots, so replay dedup must ride the high-water property. Drives the
    REAL agg_view_stream (file source, availableNow) across two source
    growth steps with maintenance interleaved, then a full same-checkpoint
    replay that must add zero snapshots."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from go_iceberg_spark.streaming.stream import agg_view_stream

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    p1 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "g string, v double")
    p1.coalesce(1).write.parquet(src_dir + "/p1")
    for f in os.listdir(src_dir + "/p1"):
        if f.endswith(".parquet"):
            shutil.move(f"{src_dir}/p1/{f}", f"{src_dir}/b1.parquet")
    shutil.rmtree(src_dir + "/p1")

    seed = spark.createDataFrame([], "g string, n bigint, sv double")
    t = catalog.create_table("db", "aggmx", from_spark_schema(seed.schema))

    def run_stream():
        src = (spark.readStream.schema("g string, v double")
               .option("pathGlobFilter", "*.parquet").parquet(src_dir))
        q = agg_view_stream(src, t, ckpt, ["g"], count_col="n",
                            sum_cols={"sv": "v"}, trigger_once=True)
        q.awaitTermination(120)
        t.refresh()

    run_stream()
    assert sorted((r.g, r.n, r.sv) for r in t.to_df().collect()) == \
        [("a", 2, 3.0), ("b", 1, 3.0)]

    # maintenance between micro-batches: compaction + expiry (drops the
    # batch-marker snapshot — dedup must fall back to the high-water prop)
    t.rewrite_data_files(min_input_files=1)
    t.expire_snapshots(retain_last=1, sweep_grace_ms=0)

    p2 = spark.createDataFrame([("b", 4.0), ("c", 5.0)], "g string, v double")
    p2.coalesce(1).write.parquet(src_dir + "/p2")
    for f in os.listdir(src_dir + "/p2"):
        if f.endswith(".parquet"):
            shutil.move(f"{src_dir}/p2/{f}", f"{src_dir}/b2.parquet")
    shutil.rmtree(src_dir + "/p2")
    run_stream()
    want = [("a", 2, 3.0), ("b", 2, 7.0), ("c", 1, 5.0)]
    assert sorted((r.g, r.n, r.sv) for r in t.to_df().collect()) == want

    # full same-checkpoint replay after one more maintenance round: zero
    # new snapshots (a double-applied additive batch would poison the sums)
    t.rewrite_data_files(min_input_files=1)
    t.expire_snapshots(retain_last=1, sweep_grace_ms=0)
    n_snaps = len(t.snapshots())
    run_stream()
    assert len(t.snapshots()) == n_snaps
    assert sorted((r.g, r.n, r.sv) for r in t.to_df().collect()) == want


def test_metadata_min_max_across_partition_evolution(spark, catalog):
    """r10 probe (VERDICT r9 task #6c): metadata MIN/MAX over bounds written
    under TWO partition specs — files landed unpartitioned (spec 0), then
    identity-partitioned (spec 1), then bucket-partitioned (spec 2) must all
    contribute; the float column's NaN proof and the string column's
    bounds_exact marker must both hold across the spec generations."""
    from pyspark.sql import functions as F

    df1 = spark.createDataFrame(
        [(1, "us", 2.5, "mango"), (2, "eu", -1.0, "apple")],
        "k bigint, p string, x double, s string")
    t = catalog.create_table(
        "db", "mmpe", from_spark_schema(df1.schema),
        properties={"write.nan-count-columns": "x",
                    "write.exact-bounds-columns": "s"})
    t.append(df1)  # spec 0: unpartitioned
    t.update_partition_spec("p")
    t.append(spark.createDataFrame(
        [(7, "us", 9.75, "zebra"), (0, "ap", 0.5, "kiwi")], df1.schema))  # spec 1
    t.update_partition_spec(("k", "bucket[4]"))
    t.append(spark.createDataFrame(
        [(-3, "eu", 4.0, "banana")], df1.schema))  # spec 2

    assert {e.spec_id for e in t.live_entries()} == {0, 1, 2}
    assert t.scan().metadata_min_max("k") == (-3, 7)
    assert t.scan().metadata_min_max("x") == (-1.0, 9.75)
    assert t.scan().metadata_min_max("s") == ("apple", "zebra")
    # cross-check against the scan
    row = t.to_df().agg(F.min("k"), F.max("k"), F.min("x"), F.max("x"),
                        F.min("s"), F.max("s")).collect()[0]
    assert (row[0], row[1]) == (-3, 7) and (row[2], row[3]) == (-1.0, 9.75)
    assert (row[4], row[5]) == ("apple", "zebra")

    # a NaN landing under the NEWEST spec breaks the float proof globally
    t.append(spark.createDataFrame(
        [(50, "us", float("nan"), "mid")], df1.schema))
    assert t.scan().metadata_min_max("x") is None
    assert t.scan().metadata_min_max("k") == (-3, 50)


def test_rewrite_position_deletes_invisible_to_incremental_and_changelog(spark, catalog):
    """r11 probe (VERDICT r10 task #7b): a tombstone compaction
    (``rewrite_position_deletes``, a rows-preserved REPLACE) must be
    INVISIBLE to row-level consumers — the changelog's semantic live→dead
    diff must net to zero at the rewrite's ordinal, the incremental append
    scan must skip it without ignore_non_append, and a REAL delete after
    the rewrite must still surface (the merged tombstone file is now the
    parent-delete baseline the diff reads through)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(200)])
    t = catalog.create_table("db", "rpdcdc", from_spark_schema(df.schema))
    t.append(df)
    s0 = t.current_snapshot().snapshot_id
    # three separate MoR deletes -> three tombstone files
    t.delete(gi.lt("k", 10), mode="merge-on-read")
    t.delete(gi.and_(gi.gte("k", 50), gi.lte("k", 59)), mode="merge-on-read")
    t.delete(gi.eq("k", 100), mode="merge-on-read")
    s_del = t.current_snapshot().snapshot_id
    assert t.scan().count() == 179

    snap_rw = t.rewrite_position_deletes()
    assert snap_rw.summary.get("rows-preserved") == "true"
    s_rw = t.current_snapshot().snapshot_id

    # changelog across the rewrite: ZERO rows at the rewrite ordinal
    ch = t.changes(s_del, s_rw)
    assert ch.count() == 0, ch.collect()[:5]
    # and the full range still shows exactly the 21 real deletes
    full = t.changes(s0, s_rw)
    assert full.filter(F.col("_change_type") == "delete").count() == 21
    assert full.filter(F.col("_change_type") == "insert").count() == 0

    # incremental append scan SKIPS the rows-preserved replace (no flag)
    assert t.incremental_scan(s_del, s_rw).count() == 0

    # a real delete AFTER the rewrite reads its before-state through the
    # MERGED tombstone file and surfaces exactly its own rows
    t.delete(gi.eq("k", 150), mode="merge-on-read")
    s_d2 = t.current_snapshot().snapshot_id
    got = [(r._change_type, r.k) for r in t.changes(s_rw, s_d2).collect()]
    assert got == [("delete", 150)], got
    assert t.scan().count() == 178


def test_bloom_prefilter_composes_with_mor_scan(spark, catalog):
    """r11 probe (VERDICT r10 task #7c): bloom-prefiltering a ``to_df()``
    that carries LIVE position deletes (MoR anti-join in the plan) must
    (a) equal the plain join exactly — tombstoned rows stay dead even
    when their keys pass the bloom, (b) keep the bit-test below the
    dimension join so the filter still cuts the join's input, and
    (c) never resurface a deleted row via the prefilter's extra plan arms."""
    from pyspark.sql import functions as F

    from go_iceberg_spark.operators.joins import bloom_prefilter_join

    df = spark.createDataFrame(
        [Row(k=i % 40, seq=i, v=float(i)) for i in range(400)])
    t = catalog.create_table("db", "bloommor", from_spark_schema(df.schema))
    t.append(df)
    # MoR-delete every row of keys 0..4 (their keys are IN the dim, so
    # only the MoR apply — not the bloom — keeps them out of the result)
    t.delete(gi.lt("k", 5), mode="merge-on-read")
    assert any(e.content != 0 for e in t.live_entries())  # tombstones live

    big = t.to_df()
    dim = spark.createDataFrame(
        [Row(k=i, tag=f"d{i}") for i in range(0, 40, 3)])  # includes 0,3
    got = bloom_prefilter_join(big, dim, ["k"])
    plain = big.join(dim, ["k"])
    assert got.exceptAll(plain).count() == 0
    assert plain.exceptAll(got).count() == 0
    # deleted keys gone although the dim contains them
    assert got.filter(F.col("k").isin(0, 3)).count() == 0
    assert got.count() == plain.count() > 0

    # plan: the bloom bit-test sits below the dim join (above or fused
    # with the MoR anti-join — either way the dim join's probe input is
    # already filtered)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    join_at = min(i for i, ln in enumerate(lines)
                  if "Join" in ln and "LeftAnti" not in ln)
    filt_at = min(i for i, ln in enumerate(lines)
                  if "shiftright" in ln and "Filter" in ln)
    assert filt_at > join_at, plan


@pytest.mark.soak
def test_streaming_hll_view_survives_interleaved_maintenance(spark, catalog, tmp_path):
    """r11 probe (VERDICT r10 task #7a): compaction + expiry landing on the
    HLL register view table BETWEEN micro-batches. The r10 probes covered
    the ADDITIVE agg sink; the register view's GREATEST merge meets
    REPLACE snapshots differently — a compaction rewrites the register
    FILES and expiry drops the batch-marker snapshots, but idempotent
    max-merge means even a FULL replay against the compacted table must
    leave the registers byte-identical. Final estimates must equal the
    batch hll_distinct over the union of all source data."""
    import os
    import shutil

    from go_iceberg_spark.operators.sketch import hll_distinct
    from go_iceberg_spark.streaming.stream import hll_view_estimate, hll_view_stream

    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    def land(name, rows):
        pdf = spark.createDataFrame(rows, "g string, uid long")
        pdf.coalesce(1).write.parquet(src_dir + "/tmp")
        for f in os.listdir(src_dir + "/tmp"):
            if f.endswith(".parquet"):
                shutil.move(f"{src_dir}/tmp/{f}", f"{src_dir}/{name}.parquet")
        shutil.rmtree(src_dir + "/tmp")

    land("b1", [("a", i) for i in range(60)] + [("b", i) for i in range(10)])

    seed = spark.createDataFrame([], "g string, bucket int, register int")
    t = catalog.create_table("db", "hllmx", from_spark_schema(seed.schema))

    def run_stream():
        src = (spark.readStream.schema("g string, uid long")
               .option("pathGlobFilter", "*.parquet").parquet(src_dir))
        q = hll_view_stream(src, t, ckpt, ["g"], "uid", trigger_once=True)
        q.awaitTermination(120)
        t.refresh()

    run_stream()
    # maintenance between micro-batches: the register table compacts and
    # its marker snapshots expire
    t.rewrite_data_files(min_input_files=1)
    t.expire_snapshots(retain_last=1, sweep_grace_ms=0)

    # overlapping users (idempotence across batches) + a new group
    land("b2", [("a", i) for i in range(40, 80)] + [("c", i) for i in range(5)])
    run_stream()

    view_est = {r.g: r.n_estimate
                for r in hll_view_estimate(t.to_df(), ["g"]).collect()}
    batch = spark.createDataFrame(
        [("a", i) for i in range(80)] + [("b", i) for i in range(10)]
        + [("c", i) for i in range(5)], "g string, uid long")
    want = {r.g: r.n_estimate
            for r in hll_distinct(batch, ["g"], "uid").collect()}
    assert view_est == want, (view_est, want)

    # one more maintenance round, then a FULL same-checkpoint replay:
    # registers must stay byte-identical (max-merge idempotence) and the
    # estimates unchanged — regardless of whether the marker shortcut
    # survived expiry
    t.rewrite_data_files(min_input_files=1)
    t.expire_snapshots(retain_last=1, sweep_grace_ms=0)
    regs_before = sorted((r.g, r.bucket, r.register) for r in t.to_df().collect())
    shutil.rmtree(ckpt)  # force a genuine replay of every batch
    run_stream()
    regs_after = sorted((r.g, r.bucket, r.register) for r in t.to_df().collect())
    assert regs_after == regs_before
    assert {r.g: r.n_estimate
            for r in hll_view_estimate(t.to_df(), ["g"]).collect()} == want

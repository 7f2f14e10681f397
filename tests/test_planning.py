"""Metadata-scale scan planning (table/planning.py): pruned driver reads,
the distributed Spark path, and snapshot-level bounds short-circuit.

The reference plans with a driver loop over every entry and always-true
pruning stubs (reference: table/scan.go:101-190, table/insert.go:255-266);
these tests pin the scale behavior the engine replaces that with."""

from __future__ import annotations

import contextlib
import os
import time

import pytest

from go_iceberg_spark.expr import and_, eq, gt, is_null, isin, lt, simplify, starts_with
from go_iceberg_spark.schema import DOUBLE, LONG, STRING, NestedField, Schema, StructType
from go_iceberg_spark.table.metadata import DataFileEntry, write_manifest
from go_iceberg_spark.table.planning import (
    plan_distributed,
    prune_manifest_driver,
    summary_bounds,
    summary_might_match,
)
from go_iceberg_spark.table.scan import LISTING_THRESHOLD, _encode_filter, read_files, scan_tasks

SCHEMA = Schema(0, StructType((
    NestedField(1, "x", LONG, False),
    NestedField(2, "s", STRING, False),
    NestedField(3, "v", DOUBLE, False),
)))


def make_entries(n, with_deletes=True):
    out = [
        DataFileEntry(
            content=0, file_path=f"data/part-{i:06d}.parquet", file_format="parquet",
            spec_id=0, schema_id=0, record_count=100, file_size=1 << 20,
            partition={},
            column_stats={
                1: {"min": i * 10, "max": i * 10 + 9, "null_count": 0, "value_count": 100},
                2: {"min": f"k{i:06d}", "max": f"k{i:06d}z", "null_count": 2, "value_count": 100},
                3: {"min": float(i), "max": float(i) + 0.5, "null_count": 0, "value_count": 100},
            },
            sequence_number=1,
        )
        for i in range(n)
    ]
    if with_deletes:
        out.append(DataFileEntry(
            content=1, file_path="data/del-0.parquet", file_format="parquet",
            spec_id=0, schema_id=0, record_count=3, file_size=100,
            partition={}, column_stats={}, sequence_number=2,
        ))
    return out


@pytest.fixture(scope="module")
def manifest_100(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("m") / "m.parquet")
    write_manifest(p, make_entries(100))
    return p


def enc(e):
    return _encode_filter(simplify(e), SCHEMA)


def test_pruned_driver_matches_naive(manifest_100):
    got = prune_manifest_driver(manifest_100, enc(gt("x", 500)), SCHEMA)
    data = [e for e in got if e.content == 0]
    # max = i*10+9 > 500 -> i >= 50 (i=49: max 499)
    assert sorted(e.file_path for e in data) == [f"data/part-{i:06d}.parquet" for i in range(50, 100)]
    # delete entries always survive
    assert any(e.content == 1 for e in got)
    # survivors carry full stats for downstream use
    assert data[0].column_stats[2]["null_count"] == 2


def test_pruned_driver_compound_and_in(manifest_100):
    got = prune_manifest_driver(
        manifest_100, enc(and_(gt("x", 100), lt("v", 20.0))), SCHEMA)
    data = [e.file_path for e in got if e.content == 0]
    # x: i >= 10; v: min=i < 20 -> i <= 19
    assert data == [f"data/part-{i:06d}.parquet" for i in range(10, 20)]

    got = prune_manifest_driver(manifest_100, enc(isin("x", 5, 995)), SCHEMA)
    data = [e.file_path for e in got if e.content == 0]
    assert data == ["data/part-000000.parquet", "data/part-000099.parquet"]


def test_pruned_driver_string_fallback(manifest_100):
    # string-typed bounds use the exact per-row path
    got = prune_manifest_driver(manifest_100, enc(eq("s", "k000042x")), SCHEMA)
    data = [e.file_path for e in got if e.content == 0]
    assert data == ["data/part-000042.parquet"]
    # starts_with is conservative but must not drop the matching file
    got = prune_manifest_driver(manifest_100, enc(starts_with("s", "k00007")), SCHEMA)
    assert "data/part-000070.parquet" in [e.file_path for e in got]


def test_pruned_driver_is_null(manifest_100):
    got = prune_manifest_driver(manifest_100, enc(is_null("x")), SCHEMA)
    assert [e for e in got if e.content == 0] == []  # null_count=0 everywhere
    got = prune_manifest_driver(manifest_100, enc(is_null("s")), SCHEMA)
    assert len([e for e in got if e.content == 0]) == 100  # s has nulls


def test_distributed_matches_driver(spark, manifest_100):
    # x < 10.5 keeps part-000001 (min 10): its literal must not be
    # truncated to the column's long type
    for f in (gt("x", 500), and_(gt("x", 100), lt("v", 20.0)), isin("x", 5, 995),
              eq("s", "k000042x"), is_null("x"), lt("x", 10.5)):
        a = {e.file_path for e in prune_manifest_driver(manifest_100, enc(f), SCHEMA)}
        b = {e.file_path for e in plan_distributed(spark, manifest_100, enc(f), SCHEMA)}
        # the Catalyst predicate may be more conservative (string ops) but
        # must never drop a file the driver path keeps
        assert a <= b, f
        if f is not None and not isinstance(f, str):
            pass
    # numeric filters are exact on both paths
    a = {e.file_path for e in prune_manifest_driver(manifest_100, enc(gt("x", 500)), SCHEMA)}
    b = {e.file_path for e in plan_distributed(spark, manifest_100, enc(gt("x", 500)), SCHEMA)}
    assert a == b


def test_boolean_bounds_on_large_tiers(spark, tmp_path):
    """A numeric-type filter on a boolean column: its JSON bounds are
    ``true``/``false``. The driver tier must equal might_match, the
    distributed tier must keep at least the driver tier's survivors, and
    neither may raise."""
    from go_iceberg_spark.expr import ColumnStats, might_match
    from go_iceberg_spark.schema import BOOLEAN

    schema = Schema(0, StructType((NestedField(1, "b", BOOLEAN, True),)))
    stats = {  # all false, all true, mixed, all null
        "f": {"min": False, "max": False, "null_count": 0, "value_count": 5},
        "t": {"min": True, "max": True, "null_count": 0, "value_count": 5},
        "ft": {"min": False, "max": True, "null_count": 1, "value_count": 5},
        "n": {"min": None, "max": None, "null_count": 5, "value_count": 5},
    }
    p = str(tmp_path / "bool.parquet")
    write_manifest(p, [
        DataFileEntry(content=0, file_path=name, file_format="parquet", spec_id=0,
                      schema_id=0, record_count=5, file_size=100, partition={},
                      column_stats={1: s}, sequence_number=1)
        for name, s in stats.items()])
    for f in (eq("b", True), eq("b", False), gt("b", False), lt("b", True), isin("b", True)):
        e = _encode_filter(simplify(f), schema)
        ref = {name for name, s in stats.items()
               if might_match(e, {"b": ColumnStats(s["min"], s["max"], s["null_count"],
                                                   s["value_count"])})}
        drv = {x.file_path for x in prune_manifest_driver(p, e, schema)}
        dist = {x.file_path for x in plan_distributed(spark, p, e, schema)}
        assert drv == ref, f
        assert drv <= dist, f


def _max_codegen_method_bytes(df) -> list[int]:
    """Largest generated method, in bytes of bytecode, of each whole-stage
    codegen stage of the DataFrame's executed plan."""
    jvm = df.sparkSession._jvm
    compile_ = getattr(jvm, "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").compile
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name == "WholeStageCodegenExec":
            out.append(compile_(node.doCodeGen()._2())._2().maxMethodCodeSize())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.mark.parametrize("flt", [eq("x", 42), and_(gt("x", 100), lt("x", 900), lt("v", 20.0))],
                         ids=["one_leaf", "three_leaves"])
def test_distributed_filter_method_is_jit_compilable(spark, manifest_100, flt):
    """HotSpot never JIT-compiles a method over 8,000 bytes of bytecode
    (DontCompileHugeMethods), so a stats predicate whose whole-stage codegen
    method crosses that runs in the interpreter, several times slower over a
    large manifest. One- and three-leaf numeric filters must stay under it."""
    from go_iceberg_spark.table.planning import _distributed_frame

    sizes = _max_codegen_method_bytes(_distributed_frame(spark, [manifest_100], enc(flt), SCHEMA))
    assert sizes and max(sizes) < 8000, sizes


def test_planning_100k_under_a_second(tmp_path):
    p = str(tmp_path / "big.parquet")
    write_manifest(p, make_entries(100_000, with_deletes=False))
    t0 = time.time()
    got = prune_manifest_driver(p, enc(gt("x", 990_000)), SCHEMA)
    dt = time.time() - t0
    assert len(got) == 1000  # i*10+9 > 990000 -> i >= 99000
    assert dt < 1.0, f"100k-entry planning took {dt:.2f}s"


def test_summary_bounds_short_circuit():
    entries = make_entries(100)
    b = summary_bounds(entries)
    assert summary_might_match(b, enc(gt("x", 500)), SCHEMA) is True
    assert summary_might_match(b, enc(gt("x", 10**7)), SCHEMA) is False
    assert summary_might_match(b, enc(lt("x", -5)), SCHEMA) is False
    # unknown junk never blocks a scan
    assert summary_might_match("not json", enc(gt("x", 1)), SCHEMA) is True


def test_scan_uses_bounds_short_circuit(spark, catalog):
    """End-to-end: a committed table's snapshot carries bounds, and an
    out-of-range scan plans zero files without touching the manifest."""
    import go_iceberg_spark as gi
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(id=i, name=f"n{i}") for i in range(50)])
    from go_iceberg_spark.schema import from_spark_schema

    cat = catalog
    cat.create_namespace(("db",))
    t = cat.create_table(("db",), "bounded", from_spark_schema(df.schema))
    t.append(df)
    assert "bounds" in t.current_snapshot().summary
    assert t.scan().filter(gi.gt("id", 10**6)).plan_files() == []
    assert len(t.scan().filter(gi.gt("id", 25)).plan_files()) >= 1


def test_distributed_over_manifest_list_members(spark, tmp_path):
    """The distributed planner accepts a manifest-LIST's member paths (the
    incremental commit layout) and prunes across all of them in one job."""
    p1, p2 = str(tmp_path / "m1.parquet"), str(tmp_path / "m2.parquet")
    e1, e2 = make_entries(500), make_entries(500)
    # shift the second member's ids so the two files don't collide
    e2 = [
        DataFileEntry(e.content, "g2/" + e.file_path, e.file_format, e.spec_id,
                      e.schema_id, e.record_count, e.file_size, e.partition,
                      e.column_stats, e.sequence_number, e.equality_ids)
        for e in e2
    ]
    write_manifest(p1, e1)
    write_manifest(p2, e2)
    single1 = {e.file_path for e in plan_distributed(spark, p1, enc(gt("x", 2000)), SCHEMA)}
    single2 = {e.file_path for e in plan_distributed(spark, p2, enc(gt("x", 2000)), SCHEMA)}
    both = {e.file_path for e in plan_distributed(spark, [p1, p2], enc(gt("x", 2000)), SCHEMA)}
    assert both == single1 | single2
    assert any(fp.startswith("g2/") for fp in both) and len(both) > 0


def test_distributed_tier_prunes_bucket_partitions(spark, catalog, monkeypatch):
    """The bucket-partition predicate must run INSIDE the distributed
    planning job (get_json_object over partition_json), not as a driver
    post-filter — at manifest scale a hashed layout would otherwise collect
    every data entry for an EQ lookup. Forced through the distributed tier
    via DISTRIBUTED_THRESHOLD=0."""
    import go_iceberg_spark.table.planning as P
    from go_iceberg_spark import eq
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec

    from pyspark.sql import functions as F

    df = spark.range(0, 400).select(F.col("id"), (F.col("id") % 7).alias("v"))
    schema = from_spark_schema(df.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    spec = PartitionSpec(0, (PartitionField(fid["id"], 1000, "bucket[8]", "id_bucket"),))
    t = catalog.create_table("db", "dist_bucketed", schema, spec=spec)
    t.append(df)

    monkeypatch.setattr(P, "DISTRIBUTED_THRESHOLD", 0)
    sb = t.scan().filter(eq("id", 123))
    pruned = sb.plan_files()
    assert len(pruned) == 1, f"expected 1 bucket file, planned {len(pruned)}"
    assert [r["id"] for r in sb.to_df().collect()] == [123]


def test_bucket_pred_disabled_when_name_reused_by_non_bucket_transform(spark):
    """ADVICE r3 (medium): a partition-field NAME defined by identity in one
    spec and bucket[N] in another must emit NO bucket condition — the
    identity generation's partition_json holds raw values, and comparing
    them to bucket ordinals at the distributed tier silently pruned live
    files. Same-definition bucket reuse across specs still prunes."""
    from go_iceberg_spark.expr import eq
    from go_iceberg_spark.schema import LONG, NestedField, Schema, StructType
    from go_iceberg_spark.table.metadata import PartitionField, PartitionSpec
    from go_iceberg_spark.table.planning import _bucket_partition_pred

    schema = Schema(0, StructType((NestedField(1, "k", LONG),)))
    clash_specs = [
        PartitionSpec(0, (PartitionField(1, 1000, "identity", "k"),)),
        PartitionSpec(1, (PartitionField(1, 1001, "bucket[8]", "k"),)),
    ]
    assert _bucket_partition_pred(eq("k", 42), clash_specs, schema) is None

    ok_specs = [
        PartitionSpec(0, (PartitionField(1, 1000, "bucket[8]", "kb"),)),
        PartitionSpec(1, (PartitionField(1, 1001, "bucket[8]", "kb"),)),
    ]
    assert _bucket_partition_pred(eq("k", 42), ok_specs, schema) is not None

    # different bucket definitions under one name: also disabled
    redef_specs = [
        PartitionSpec(0, (PartitionField(1, 1000, "bucket[8]", "kb"),)),
        PartitionSpec(1, (PartitionField(1, 1001, "bucket[4]", "kb"),)),
    ]
    assert _bucket_partition_pred(eq("k", 42), redef_specs, schema) is None


def test_member_bounds_skip_ratio_clustered_vs_path_ordered(spark, tmp_path):
    """r8 scale-soak regression (SOAK.md r8): with members CLUSTERED by value
    range (what rewrite_manifests(target_entries_per_manifest=...) produces)
    a point filter keeps exactly the covering member — 1/N of the member
    manifests are ever read — while path-ordered members have near-full-range
    bounds and keep everything. At 100k entries the measured planning gap is
    ~112x; this pins the ratio structurally at a test-sized tree."""
    import random

    import go_iceberg_spark as gi
    from go_iceberg_spark.schema import LONG, NestedField, Schema, StructType
    from go_iceberg_spark.table.metadata import (
        DataFileEntry,
        write_manifest,
        write_manifest_list,
    )
    from go_iceberg_spark.table.planning import (
        prune_manifest_driver,
        summary_bounds,
        summary_might_match,
    )
    from go_iceberg_spark.table.scan import _encode_filter, simplify

    schema = Schema(0, StructType((NestedField(1, "id", LONG),)))

    def entry(i):
        return DataFileEntry(
            content=0, file_path=f"data/f{i}.parquet", file_format="parquet",
            spec_id=0, schema_id=0, record_count=1000, file_size=1 << 20,
            partition={}, sequence_number=1,
            column_stats={1: {"min": i * 1000, "max": i * 1000 + 999,
                              "null_count": 0, "value_count": 1000}})

    def build(tag, clustered):
        d = tmp_path / tag
        d.mkdir()
        idx = list(range(5000))
        if not clustered:
            random.Random(7).shuffle(idx)
        members = []
        for m in range(0, 5000, 500):
            es = [entry(i) for i in idx[m:m + 500]]
            rel = f"m{m // 500}.parquet"
            write_manifest(str(d / rel), es)
            members.append({"path": rel, "n": len(es), "nd": 0,
                            "bounds": summary_bounds(es)})
        write_manifest_list(str(d / "list.json"), members)
        return d, members

    flt = _encode_filter(simplify(gi.eq("id", 2_500_123)), schema)

    def kept(members):
        return [m for m in members if m["nd"]
                or not summary_might_match(m["bounds"], flt, schema) is False]

    d_c, mem_c = build("clu", True)
    d_s, mem_s = build("sho", False)
    kept_c, kept_s = kept(mem_c), kept(mem_s)
    assert len(kept_c) == 1, [m["path"] for m in kept_c]   # 1/10 members
    assert len(kept_s) == 10                               # bounds useless
    # the surviving clustered member prunes to exactly the covering entry
    ents = prune_manifest_driver(str(d_c / kept_c[0]["path"]), flt, schema)
    assert len(ents) == 1 and ents[0].file_path == "data/f2500.parquet"


@pytest.mark.parametrize("layout, tier", [("avro", "memory")])
def test_tier_rule_per_manifest_layout(spark, catalog, monkeypatch, layout, tier):
    """The tier rule on the layout beside the manifest list, with the cache
    limit forced to 0 and the large tiers spied on (the pattern of
    test_member_level_skip_reads_only_matching_manifests): an Avro-only
    snapshot has no parquet members and always plans in memory, keeping
    exactly the might_match survivors."""
    from pyspark.sql import Row

    import go_iceberg_spark.table.planning as P
    from go_iceberg_spark.expr import might_match
    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.scan import ScanBuilder, _stats_for_pruning

    df0 = spark.createDataFrame([Row(id=0, v=0.0)])
    t = catalog.create_table("db", f"tier_{layout}", from_spark_schema(df0.schema),
                             properties={"manifest-format": layout})
    for b in range(3):  # disjoint id ranges, so the filter prunes files
        t.append(spark.createDataFrame([Row(id=b * 10 + i, v=float(i)) for i in range(10)]))
    assert t.current_snapshot().avro_list == t.current_snapshot().manifest_path

    monkeypatch.setattr(ScanBuilder, "_CACHE_ENTRY_LIMIT", 0)
    t._manifest_cache.clear()
    reads = {"driver_prune": [], "distributed": []}
    real_driver, real_distributed = P.prune_manifest_driver, P.plan_distributed

    def driver(path, *a, **kw):
        reads["driver_prune"].append(path)
        return real_driver(path, *a, **kw)

    def distributed(spark, path, *a, **kw):
        reads["distributed"].append(path)
        return real_distributed(spark, path, *a, **kw)

    monkeypatch.setattr(P, "prune_manifest_driver", driver)
    monkeypatch.setattr(P, "plan_distributed", distributed)

    flt = gt("id", 15)
    planned = sorted(task.file.file_path for task in t.scan().filter(flt).plan_files())
    # the memory tier reads nothing through the two large tiers
    assert tier == "memory" and reads == {"driver_prune": [], "distributed": []}
    entries = t.manifest_entries(t.current_snapshot())
    e = _encode_filter(simplify(flt), t.schema)
    expected = sorted(x.file_path for x in entries
                      if x.content == 0 and might_match(e, _stats_for_pruning(x, t.schema)))
    assert planned == expected
    assert 0 < len(expected) < len(entries)


# ---------------------------------------------------------------------------
# Frames built without a Spark job that does no work: member and data paths
# listed on the driver, empty frames over an empty RDD
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def members_40(tmp_path_factory):
    """40 manifest members of 5 data entries each, more paths than Spark's
    default listing threshold of 32."""
    d = tmp_path_factory.mktemp("m40")
    paths = []
    for j in range(40):
        p = str(d / f"m{j:02d}.parquet")
        write_manifest(p, [
            DataFileEntry(e.content, f"g{j}/" + e.file_path, e.file_format, e.spec_id,
                          e.schema_id, e.record_count, e.file_size, e.partition,
                          e.column_stats, e.sequence_number, e.equality_ids)
            for e in make_entries(5, with_deletes=False)])
        paths.append(p)
    return paths


@pytest.fixture(scope="module")
def table_40(spark, tmp_path_factory):
    """A local table of 40 engine-written data files (a one-byte target file
    size keeps every write task's file)."""
    from go_iceberg_spark.catalog.catalog import FilesystemCatalog
    from go_iceberg_spark.schema import from_spark_schema

    cat = FilesystemCatalog(spark, str(tmp_path_factory.mktemp("wh40")))
    df = spark.range(0, 400, numPartitions=40).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    t = cat.create_table("db", "files40", from_spark_schema(df.schema),
                         properties={"write.target-file-size-bytes": "1"})
    t.append(df)
    assert len(t.live_entries()) == 40
    return t


def _plan_40(spark, paths):
    # x > 30 keeps entries 3 and 4 of each member
    got = plan_distributed(spark, paths, enc(gt("x", 30)), SCHEMA)
    assert len(got) == 2 * len(paths)


@contextlib.contextmanager
def _threshold(spark, value):
    """Set (or with None, unset) the session's listing threshold for the
    block; unset it after."""
    if value is not None:
        spark.conf.set(LISTING_THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.unset(LISTING_THRESHOLD)


def test_plan_distributed_jobs_over_40_members(spark, members_40):
    """The members are listed on the driver: planning is the collect alone,
    with no listing job before it."""
    from go_iceberg_spark.plans import inspect as P

    assert len(members_40) > int(spark.conf.get(LISTING_THRESHOLD))
    with P.spark_jobs(spark) as jobs:
        _plan_40(spark, members_40)
    assert len(jobs) == 1, jobs


def test_read_files_over_40_data_files_builds_without_jobs(spark, table_40):
    """Building a frame over the 40 data files of a local table lists them
    on the driver and starts no Spark job; a scan's frame neither."""
    from go_iceberg_spark.plans import inspect as P

    t = table_40
    tasks = scan_tasks(t.live_entries(), [])
    with P.spark_jobs(spark) as jobs:
        df = read_files(t, tasks, t.schema)
        scanned = t.scan().to_df()
    assert jobs == []
    assert df.count() == 400 and scanned.count() == 400


def test_listing_threshold_reads_the_same_after_planning(spark, members_40, table_40):
    before = (spark.conf.get(LISTING_THRESHOLD, None), spark.conf.get(LISTING_THRESHOLD))
    _plan_40(spark, members_40)
    read_files(table_40, scan_tasks(table_40.live_entries(), []), table_40.schema)
    assert (spark.conf.get(LISTING_THRESHOLD, None), spark.conf.get(LISTING_THRESHOLD)) == before
    assert before == (None, "32")


@pytest.mark.parametrize("value", ["8", "1000"])
def test_listing_threshold_user_value_survives_planning(spark, members_40, value):
    """A user value below the path count is raised for the read and put
    back; one above it is left alone. Either way the members are listed on
    the driver."""
    from go_iceberg_spark.plans import inspect as P

    with _threshold(spark, value):
        with P.spark_jobs(spark) as jobs:
            _plan_40(spark, members_40)
        assert spark.conf.get(LISTING_THRESHOLD) == value
    assert len(jobs) == 1, jobs


@pytest.mark.parametrize("value", [None, "8"])
def test_listing_threshold_restored_when_the_read_raises(spark, members_40, table_40, value):
    """A missing member or data file still fails the read (the benchmark's
    phantom-file check relies on it), and the threshold is restored."""
    from go_iceberg_spark.table.metadata import CONTENT_DATA

    t = table_40
    real = t.live_entries()
    phantom = DataFileEntry(
        content=CONTENT_DATA, file_path=os.path.join(t.location, "data", "phantom.parquet"),
        file_format="parquet", spec_id=0, schema_id=real[0].schema_id, record_count=1,
        file_size=1, partition={}, column_stats={}, sequence_number=1)
    missing = os.path.join(os.path.dirname(members_40[0]), "missing.parquet")
    with _threshold(spark, value):
        with pytest.raises(Exception, match="(?i)not.*exist|not.*found"):
            _plan_40(spark, members_40 + [missing])
        assert spark.conf.get(LISTING_THRESHOLD, None) == value
        with pytest.raises(Exception, match="(?i)not.*exist|not.*found"):
            read_files(t, scan_tasks(real + [phantom], []), t.schema).collect()
        assert spark.conf.get(LISTING_THRESHOLD, None) == value


def test_listing_threshold_restored_after_concurrent_planning(spark, members_40, table_40):
    """Six threads (more than the box's cores) planning and reading at once
    on one session, each over a different number of paths above the
    threshold, get their rows and leave the threshold as they found it: a
    restore lost between two threads would leave it raised."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    def plan(n):
        for _ in range(3):
            _plan_40(spark, members_40[:n])
            df = read_files(table_40, scan_tasks(table_40.live_entries()[:n], []),
                            table_40.schema)
            assert df.count() == 10 * n

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for value in (None, "36"):
            with _threshold(spark, value):
                with ThreadPoolExecutor(6) as pool:
                    for f in [pool.submit(plan, n) for n in range(35, 41)]:
                        f.result(timeout=300)
                assert spark.conf.get(LISTING_THRESHOLD, None) == value
    finally:
        sys.setswitchinterval(interval)


def test_table_layer_listing_and_empty_frames_come_from_two_helpers():
    """Every parquet frame of ``table/`` over a path list is built inside
    ``scan.read_parquet``, and no empty frame by a Python-worker job."""
    import ast

    import go_iceberg_spark.table as pkg

    root = os.path.dirname(pkg.__file__)
    reads = []
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(root, name)) as fh:
            src = fh.read()
        assert "createDataFrame([]" not in src, name
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == "read_parquet":
                helper = (name, node.lineno, node.end_lineno)
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and any(isinstance(a, ast.Starred) for a in node.args)):
                reads.append((name, node.lineno))
    assert reads and all(f == helper[0] and helper[1] <= line <= helper[2]
                         for f, line in reads), (helper, reads)


def _assert_empty(spark, df, schema):
    """``df`` has no rows, exactly the Spark type ``schema``, and its
    collect runs no Spark task."""
    from go_iceberg_spark.plans import inspect as P

    assert df.schema == schema
    with P.spark_jobs(spark) as jobs:
        assert df.collect() == []
    assert P.stage_metrics(spark, jobs)["tasks"] == 0


@pytest.fixture()
def kv_table(spark, catalog):
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(6)])
    t = catalog.create_table("db", "kv", from_spark_schema(df.schema))
    return t, df


def test_empty_frame_scan_of_snapshot_skip_and_snapshotless_table(spark, kv_table):
    from go_iceberg_spark.schema import to_spark_type

    t, df = kv_table
    _assert_empty(spark, t.scan().to_df(), to_spark_type(t.schema.struct))
    t.append(df)
    scan = t.scan().filter(gt("k", 10**6))
    assert scan.plan_files() == []  # the snapshot bounds skip
    _assert_empty(spark, scan.to_df(), to_spark_type(t.schema.struct))


def test_empty_frame_incremental_and_changelog(spark, kv_table):
    from pyspark.sql import types as T

    from go_iceberg_spark.schema import to_spark_type
    from go_iceberg_spark.table.incremental import changelog_scan, incremental_append_scan

    t, df = kv_table
    t.append(df)
    s1 = t.current_snapshot().snapshot_id
    data_t = to_spark_type(t.schema.struct)
    _assert_empty(spark, incremental_append_scan(t, s1, s1), data_t)
    _assert_empty(spark, changelog_scan(t, s1, s1), T.StructType([
        *data_t.fields,
        T.StructField("_change_type", T.StringType(), False),
        T.StructField("_change_ordinal", T.IntegerType(), False)]))


def test_empty_frame_upsert_into_empty_table(spark, kv_table, monkeypatch):
    """An upsert into a table with no rows merges the source against an
    empty target frame of the table's Spark type."""
    import go_iceberg_spark.table.mutate as M

    t, df = kv_table
    made, real = [], M.empty_frame

    def spy(spark_, schema):
        made.append(real(spark_, schema))
        return made[-1]

    monkeypatch.setattr(M, "empty_frame", spy)
    t.upsert(df, ["k"])
    assert len(made) == 1
    _assert_empty(spark, made[0], t.spark_schema())
    assert sorted((r.k, r.v) for r in t.to_df().collect()) == [(i, float(i)) for i in range(6)]

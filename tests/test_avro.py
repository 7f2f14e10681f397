"""Avro OCF + Iceberg manifest serde tests.

The critical one is ``test_java_avro_reads_our_files``: files written by the
pure-Python OCF writer are read back with the REAL Apache Avro Java library
(avro-1.12.1.jar on Spark's classpath) through py4j — schema parse, deflate
codec, varints, sync markers all validated by an independent implementation.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from go_iceberg_spark.avro import BinaryDecoder, BinaryEncoder, read_ocf, write_ocf
from go_iceberg_spark.schema import (
    BOOLEAN,
    DATE,
    DOUBLE,
    FLOAT,
    INT,
    LONG,
    STRING,
    TIMESTAMP,
    DecimalType,
    from_spark_schema,
)
from go_iceberg_spark.table.manifest_avro import (
    MANIFEST_LIST_SCHEMA,
    bound_from_bytes,
    bound_to_bytes,
    manifest_entry_schema,
    member_manifest_paths,
    read_avro_manifest_tree,
    write_avro_manifests,
)
from go_iceberg_spark.table.metadata import (
    CONTENT_DATA,
    CONTENT_POSITION_DELETES,
    DataFileEntry,
    PartitionField,
    PartitionSpec,
    UNPARTITIONED,
)

RECORD_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None},
        {"name": "c", "type": "double"},
        {"name": "d", "type": {"type": "array", "items": "int"}},
        {"name": "e", "type": {"type": "map", "values": "long"}},
        {"name": "f", "type": "boolean"},
        {"name": "g", "type": "bytes"},
    ],
}

ROWS = [
    {"a": 0, "b": None, "c": 0.0, "d": [], "e": {}, "f": False, "g": b""},
    {"a": -1, "b": "x", "c": -1.5, "d": [1, -2, 3], "e": {"k": 9}, "f": True, "g": b"\x00\xff"},
    {"a": 2**62, "b": "é中", "c": 1e300, "d": [0], "e": {"a": -(2**40)}, "f": False, "g": bytes(range(16))},
    {"a": -(2**62), "b": "", "c": float("inf"), "d": [2**31 - 1, -(2**31)], "e": {}, "f": True, "g": b"z"},
]


def test_varint_zigzag_roundtrip():
    enc = BinaryEncoder()
    vals = [0, -1, 1, 63, -64, 64, 2**31 - 1, -(2**31), 2**62, -(2**62), 2**63 - 1, -(2**63)]
    for v in vals:
        enc.write_long(v)
    dec = BinaryDecoder(enc.getvalue())
    assert [dec.read_long() for _ in vals] == vals


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_roundtrip(tmp_path, codec):
    path = str(tmp_path / f"t_{codec}.avro")
    write_ocf(path, RECORD_SCHEMA, ROWS, metadata={"x-custom": b"42"}, codec=codec)
    schema, meta, records = read_ocf(path)
    assert schema == RECORD_SCHEMA
    assert meta["x-custom"] == b"42"
    assert records == ROWS


def test_ocf_empty_file(tmp_path):
    path = str(tmp_path / "empty.avro")
    write_ocf(path, RECORD_SCHEMA, [])
    _, _, records = read_ocf(path)
    assert records == []


def test_java_avro_reads_our_files(spark, tmp_path):
    """Interop gate: the Apache Avro *Java* implementation must read files
    this module writes — OCF framing, deflate, varints, unions, schema JSON."""
    path = str(tmp_path / "interop.avro")
    write_ocf(path, RECORD_SCHEMA, ROWS, codec="deflate")

    jvm = spark.sparkContext._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(path), reader)
    got = []
    while dfr.hasNext():
        got.append(json.loads(dfr.next().toString()))
    dfr.close()
    assert len(got) == len(ROWS)
    assert got[1]["a"] == -1
    assert got[1]["b"] == "x"  # union branch resolved
    assert got[1]["d"] == [1, -2, 3]
    assert got[2]["a"] == 2**62
    assert got[2]["e"] == {"a": -(2**40)}
    assert [r["f"] for r in got] == [False, True, False, True]


BOUND_CASES = [
    (BOOLEAN, True), (BOOLEAN, False),
    (INT, 42), (INT, -(2**31)),
    (LONG, 2**62), (LONG, -5),
    (FLOAT, 1.5), (DOUBLE, -2.75), (DOUBLE, 1e300),
    (DATE, 19723),  # days since epoch (engine stat encoding)
    (TIMESTAMP, 1700000000000000),  # µs
    (STRING, "héllo wörld"), (STRING, ""),
    # decimal engine stat space is the UNSCALED int (r9 — str(Decimal)
    # sorted lexicographically and broke range pruning, r8 ADVICE)
    (DecimalType(18, 2), 1234567), (DecimalType(18, 2), -1),
]


@pytest.mark.parametrize("t,v", BOUND_CASES)
def test_bound_value_roundtrip(t, v):
    raw = bound_to_bytes(t, v)
    assert raw is not None
    assert bound_from_bytes(t, raw) == v


def test_bound_bytes_are_little_endian_spec_encoding():
    assert bound_to_bytes(INT, 1) == b"\x01\x00\x00\x00"
    assert bound_to_bytes(LONG, 1) == b"\x01" + b"\x00" * 7
    assert bound_to_bytes(BOOLEAN, True) == b"\x01"
    assert bound_to_bytes(STRING, "ab") == b"ab"
    # decimal: minimal two's-complement big-endian unscaled value; a bound
    # outside the unscaled-int space writes no bound (the file is kept)
    assert bound_to_bytes(DecimalType(9, 2), 100) == b"\x64"
    assert bound_to_bytes(DecimalType(9, 2), -100) == b"\x9c"
    assert bound_to_bytes(DecimalType(9, 2), "1.00") is None


def _entry(path, seq, content=CONTENT_DATA, schema_id=0, partition=None, stats=None):
    return DataFileEntry(
        content=content, file_path=path, file_format="parquet", spec_id=0,
        schema_id=schema_id, record_count=10, file_size=1000,
        partition=partition or {}, column_stats=stats or {}, sequence_number=seq,
    )


def test_manifest_tree_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    proto = spark.createDataFrame([Row(id=1, name="a", price=1.5)])
    schema = from_spark_schema(proto.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    stats = {
        fid["id"]: {"min": 1, "max": 9, "null_count": 0, "value_count": 10},
        fid["name"]: {"min": "a", "max": "z", "null_count": 2, "value_count": 10},
        fid["price"]: {"min": -1.5, "max": 99.25, "null_count": 0, "value_count": 10},
    }
    entries = [
        _entry("data/f1.parquet", 1, stats=stats),
        _entry("data/f2.parquet", 2, schema_id=0),
        _entry("data/d1.parquet", 2, content=CONTENT_POSITION_DELETES),
    ]
    rel = write_avro_manifests(
        loc, "metadata", entries, snapshot_id=777, sequence_number=2,
        spec=UNPARTITIONED, schemas_by_id={0: schema},
    )
    assert rel.endswith(".avro")
    # data + deletes split into two member manifests
    assert len(member_manifest_paths(loc, rel)) == 2

    back = read_avro_manifest_tree(loc, rel)
    by_path = {e.file_path: e for e in back}
    assert set(by_path) == {"data/f1.parquet", "data/f2.parquet", "data/d1.parquet"}
    assert by_path["data/d1.parquet"].content == CONTENT_POSITION_DELETES
    assert by_path["data/f1.parquet"].sequence_number == 1
    got = by_path["data/f1.parquet"].column_stats
    assert got[fid["id"]]["min"] == 1 and got[fid["id"]]["max"] == 9
    assert got[fid["name"]]["min"] == "a" and got[fid["name"]]["null_count"] == 2
    assert got[fid["price"]]["max"] == 99.25


def test_manifest_partition_summaries(spark, tmp_path):
    loc = str(tmp_path / "ptbl")
    proto = spark.createDataFrame([Row(id=1, cat="x")])
    schema = from_spark_schema(proto.schema)
    fid = {f.name: f.field_id for f in schema.fields}
    spec = PartitionSpec(0, (PartitionField(fid["cat"], 1000, "identity", "cat"),))
    entries = [
        _entry("data/a.parquet", 1, partition={"cat": "a"}),
        _entry("data/b.parquet", 1, partition={"cat": "m"}),
        _entry("data/c.parquet", 1, partition={"cat": None}),
    ]
    rel = write_avro_manifests(loc, "metadata", entries, snapshot_id=1, sequence_number=1,
                               spec=spec, schemas_by_id={0: schema})
    _, _, manifest_files = __import__("go_iceberg_spark.avro", fromlist=["read_ocf"]).read_ocf(
        os.path.join(loc, rel))
    (mf,) = manifest_files
    (summary,) = mf["partitions"]
    assert summary["contains_null"] is True
    assert summary["lower_bound"] == b"a" and summary["upper_bound"] == b"m"
    back = read_avro_manifest_tree(loc, rel)
    assert {e.partition.get("cat") for e in back} == {"a", "m", None}


def test_java_avro_reads_manifest_list(spark, tmp_path):
    """The manifest list itself parses under the Java implementation and
    carries the Iceberg field-id annotated schema."""
    loc = str(tmp_path / "jtbl")
    proto = spark.createDataFrame([Row(id=1)])
    schema = from_spark_schema(proto.schema)
    rel = write_avro_manifests(loc, "metadata", [_entry("data/x.parquet", 1)],
                               snapshot_id=5, sequence_number=1,
                               spec=UNPARTITIONED, schemas_by_id={0: schema})
    jvm = spark.sparkContext._jvm
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(os.path.join(loc, rel)),
        jvm.org.apache.avro.generic.GenericDatumReader())
    parsed = json.loads(dfr.getSchema().toString())
    names = [f["name"] for f in parsed["fields"]]
    assert names[:4] == ["manifest_path", "manifest_length", "partition_spec_id", "content"]
    assert {"field-id": 500} .items() <= {k: v for f in parsed["fields"] if f["name"] == "manifest_path" for k, v in f.items()}.items()
    rec = json.loads(dfr.next().toString())
    dfr.close()
    assert rec["added_files_count"] == 1
    assert rec["content"] == 0


def test_entry_schema_has_spec_field_ids():
    s = manifest_entry_schema(UNPARTITIONED)
    by_name = {f["name"]: f for f in s["fields"]}
    assert by_name["status"]["field-id"] == 0
    assert by_name["data_file"]["field-id"] == 2
    df_fields = {f["name"]: f for f in by_name["data_file"]["type"]["fields"]}
    assert df_fields["file_path"]["field-id"] == 100
    assert df_fields["content"]["field-id"] == 134
    assert [f["name"] for f in MANIFEST_LIST_SCHEMA["fields"]][0] == "manifest_path"


# -- end-to-end: table with manifest-format=avro ----------------------------


def test_table_crud_with_avro_manifests(spark, catalog):
    proto = spark.range(100).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v",
                                        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS par")
    t = catalog.create_table("db", "avro_crud", from_spark_schema(proto.schema),
                             properties={"manifest-format": "avro"})
    t.append(proto)
    assert t.current_snapshot().manifest_path.endswith(".avro")
    assert t.scan().count() == 100

    import go_iceberg_spark as gi

    t.delete(gi.gt("id", 89))
    assert t.scan().count() == 90
    t.update(gi.eq("id", 0), {"v": 99.0})
    assert t.to_df().filter("id = 0").collect()[0].v == 99.0
    t.delete(gi.eq("par", "odd"), mode="merge-on-read")
    assert t.scan().count() == 45
    # time travel across avro snapshots
    first = t.snapshots()[0]
    assert t.scan().use_snapshot(first.snapshot_id).count() == 100
    # stats pruning still active through the avro round-trip
    files_all = len(t.scan().plan_files())
    files_pruned = len(t.scan().filter(gi.gt("id", 10**9)).plan_files())
    assert files_pruned < files_all or files_all == 1


def test_avro_table_expiry_removes_member_manifests(spark, catalog, tmp_path):
    """Expiry drops an old snapshot's avro LIST always, and its member
    manifests only when no retained snapshot reuses them (the incremental
    tree shares members across snapshots, like Iceberg's own manifests)."""
    import go_iceberg_spark as gi

    proto = spark.range(10).selectExpr("id")
    t = catalog.create_table("db", "avro_exp", from_spark_schema(proto.schema),
                             properties={"manifest-format": "avro"})
    t.append(proto)
    reused_list = t.snapshots()[0].manifest_path
    reused_members = member_manifest_paths(t.location, reused_list)
    t.append(spark.range(10, 20).selectExpr("id"))
    t.delete(gi.lt("id", 100))  # CoW drop-all: nothing survives into snap 3
    doomed_members = set(member_manifest_paths(t.location, t.snapshots()[1].manifest_path))
    t.append(spark.range(30, 35).selectExpr("id"))

    deleted = t.expire_snapshots(retain_last=2)  # keep the empty + final snaps
    assert reused_list in deleted
    # snapshot 1+2's members are unreferenced by both retained snapshots
    for m in set(reused_members) | doomed_members:
        assert not os.path.exists(os.path.join(t.location, m))
    assert t.scan().count() == 5

    # and when a retained snapshot DOES reuse an old member, it survives
    t2 = catalog.create_table("db", "avro_exp2", from_spark_schema(proto.schema),
                              properties={"manifest-format": "avro"})
    t2.append(proto)
    shared = member_manifest_paths(t2.location, t2.snapshots()[0].manifest_path)
    t2.append(spark.range(10, 20).selectExpr("id"))
    t2.expire_snapshots(retain_last=1)
    for m in shared:
        assert os.path.exists(os.path.join(t2.location, m))
    assert t2.scan().count() == 20


class TestAvroDataFiles:
    """Avro DATA-file source/sink (io/avro_data.py): distributed OCF write
    and read over every supported primitive, plus Java-Avro cross-check."""

    def test_roundtrip_all_types(self, spark, tmp_path):
        import datetime as dt

        from pyspark.sql import Row

        from go_iceberg_spark.io.avro_data import read_avro_files, write_avro_files

        rows = [
            Row(i=i, big=i * 10**12, f=float(i) / 3, txt=f"r{i}", ok=(i % 2 == 0),
                raw=bytes([i % 256, 1]), d=dt.date(2026, 1, 1) + dt.timedelta(days=i),
                ts=dt.datetime(2026, 1, 1, 12, 0, 0) + dt.timedelta(seconds=i))
            for i in range(100)
        ] + [Row(i=None, big=None, f=None, txt=None, ok=None, raw=None, d=None, ts=None)]
        df = spark.createDataFrame(rows).repartition(4)
        path = str(tmp_path / "avro_data")
        nfiles = write_avro_files(df, path)
        assert 1 <= nfiles <= 4

        back = read_avro_files(spark, path, df.schema)
        a = sorted([tuple(r) for r in df.collect()], key=repr)
        b = sorted([tuple(r) for r in back.collect()], key=repr)
        assert a == b

    def test_java_avro_reads_data_files(self, spark, tmp_path):
        """Spark's bundled Java Avro library parses our OCF data files —
        proof the wire bytes are spec-correct, not merely self-consistent."""
        from pyspark.sql import Row

        from go_iceberg_spark.io.avro_data import write_avro_files

        df = spark.createDataFrame([Row(k=i, name=f"n{i}") for i in range(25)]).coalesce(1)
        path = str(tmp_path / "javacheck")
        write_avro_files(df, path)
        import os

        fname = [f for f in os.listdir(path) if f.endswith(".avro")][0]
        jvm = spark.sparkContext._jvm
        jfile = jvm.java.io.File(os.path.join(path, fname))
        datum = jvm.org.apache.avro.generic.GenericDatumReader()
        reader = jvm.org.apache.avro.file.DataFileReader(jfile, datum)
        seen = []
        while reader.hasNext():
            rec = reader.next()
            seen.append((rec.get("k"), str(rec.get("name"))))
        reader.close()
        assert sorted(seen) == [(i, f"n{i}") for i in range(25)]

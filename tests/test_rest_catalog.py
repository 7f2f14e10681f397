"""REST catalog end-to-end: client + in-process service + Spark data path.

Port of the reference's REST catalog surface (reference: catalog/rest.go) —
namespaces/tables CRUD, rename, OAuth/bearer auth, and the commit protocol
with optimistic-concurrency 409s surfacing as retryable CommitConflictError.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

import go_iceberg_spark as gi
from go_iceberg_spark.catalog.rest import RESTCatalog
from go_iceberg_spark.catalog.rest_server import serve_background
from go_iceberg_spark.errors import (
    CommitConflictError,
    NamespaceAlreadyExistsError,
    TableAlreadyExistsError,
    TableNotFoundError,
    ValidationError,
)
from go_iceberg_spark.schema import from_spark_schema


@pytest.fixture()
def service(tmp_path):
    srv, uri = serve_background(str(tmp_path / "wh"))
    yield uri
    srv.shutdown()


@pytest.fixture()
def rcat(spark, service):
    return RESTCatalog(spark, service)


def proto_df(spark, n=5, offset=0):
    return spark.createDataFrame([Row(id=i, name=f"u{i}") for i in range(offset, offset + n)])


def test_namespace_lifecycle(rcat):
    rcat.create_namespace(("db",), {"owner": "tests"})
    assert rcat.namespace_exists(("db",))
    assert rcat.namespace_properties(("db",)) == {"owner": "tests"}
    assert ("db",) in rcat.list_namespaces()
    with pytest.raises(NamespaceAlreadyExistsError):
        rcat.create_namespace(("db",))
    rcat.drop_namespace(("db",))
    assert not rcat.namespace_exists(("db",))


def test_table_crud_and_spark_data_path(spark, rcat):
    df = proto_df(spark)
    t = rcat.create_table(("db",), "users", from_spark_schema(df.schema))
    t.append(df)
    assert sorted(r.id for r in t.to_df().collect()) == [0, 1, 2, 3, 4]
    # a second client handle sees the committed data through the service
    t2 = rcat.load_table(("db",), "users")
    assert t2.to_df().count() == 5
    assert rcat.list_tables(("db",)) == ["users"]
    with pytest.raises(TableAlreadyExistsError):
        rcat.create_table(("db",), "users", from_spark_schema(df.schema))
    rcat.rename_table(("db",), "users", ("db",), "users2")
    assert rcat.table_exists(("db",), "users2") and not rcat.table_exists(("db",), "users")
    rcat.drop_table(("db",), "users2")
    with pytest.raises(TableNotFoundError):
        rcat.load_table(("db",), "users2")


def test_commit_conflict_and_retry(spark, rcat):
    df = proto_df(spark)
    t1 = rcat.create_table(("db",), "c", from_spark_schema(df.schema))
    t2 = rcat.load_table(("db",), "c")  # base: main -> None
    t1.append(df)  # main moves; t2 is now stale
    # stale handle, retries disabled: assert-ref-snapshot-id fails -> conflict
    t2.max_retries = 0
    with pytest.raises(CommitConflictError):
        t2.append(proto_df(spark, offset=100))
    # with retries the refresh resolves it (commutable op)
    t2.max_retries = 3
    t2.append(proto_df(spark, offset=200))
    # concurrent property updates MERGE under the requirements/updates
    # protocol (both main-ref assertions hold) instead of false-conflicting
    # on a whole-metadata CAS
    t1.refresh()
    t3 = rcat.load_table(("db",), "c")
    t1.set_properties({"a": "1"})
    t3.set_properties({"b": "2"})
    t1.refresh()
    assert t1.metadata.properties["a"] == "1"
    assert t1.metadata.properties["b"] == "2"
    assert t1.to_df().count() == 10


def test_mutations_through_rest(spark, rcat):
    df = proto_df(spark, n=10)
    t = rcat.create_table(("db",), "m", from_spark_schema(df.schema))
    t.append(df)
    t.delete(gi.lt("id", 3))
    t.update(gi.eq("id", 5), {"name": "five"})
    rows = {r.id: r.name for r in t.to_df().collect()}
    assert sorted(rows) == [3, 4, 5, 6, 7, 8, 9] and rows[5] == "five"
    # time travel still works on a REST-committed table
    first = t.snapshots()[0]
    assert t.scan().use_snapshot(first.snapshot_id).to_df().count() == 10


def test_bearer_auth_and_oauth(spark, tmp_path):
    srv, uri = serve_background(str(tmp_path / "sec"), token="sekrit")
    try:
        with pytest.raises(ValidationError, match="401|bearer"):
            RESTCatalog(spark, uri)  # no token
        ok = RESTCatalog(spark, uri, token="sekrit")
        ok.create_namespace(("db",))
        # oauth client-credentials exchange returns the working token
        ok2 = RESTCatalog(spark, uri, credential="id:secret")
        assert ok2.namespace_exists(("db",))
    finally:
        srv.shutdown()


def test_iceberg_wire_commit_shapes(spark, service, rcat):
    """Drive the commit endpoint with raw Iceberg requirement/update wire
    shapes (reference: catalog/catalog.go:131-280): a snapshot lands via
    add-snapshot + set-snapshot-ref, a failed assert-ref-snapshot-id is a
    409, and property updates apply."""
    import requests

    t = rcat.create_table("db", "wire", from_spark_schema(proto_df(spark).schema))
    t.append(proto_df(spark))
    snap = t.current_snapshot()
    url = f"{service}/v1/namespaces/db/tables/wire/commit"

    # requirement failure: stale main snapshot id -> 409, nothing applied
    r = requests.post(url, json={
        "requirements": [
            {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 12345}
        ],
        "updates": [{"action": "set-properties", "updates": {"x": "1"}}],
    })
    assert r.status_code == 409
    assert "assert-ref-snapshot-id" in r.json()["error"]["message"]
    assert "x" not in t.refresh().metadata.properties

    # uuid requirement failure -> 409
    r = requests.post(url, json={
        "requirements": [{"type": "assert-table-uuid", "uuid": "not-the-uuid"}],
        "updates": [],
    })
    assert r.status_code == 409

    # correct requirements: set-properties + a ref re-point (rollback shape)
    r = requests.post(url, json={
        "requirements": [
            {"type": "assert-table-uuid", "uuid": t.metadata.table_uuid},
            {"type": "assert-ref-snapshot-id", "ref": "main",
             "snapshot-id": snap.snapshot_id},
        ],
        "updates": [
            {"action": "set-properties", "updates": {"owner": "wire-test"}},
            {"action": "set-snapshot-ref", "ref-name": "audit",
             "snapshot-id": snap.snapshot_id, "type": "tag"},
        ],
    })
    assert r.status_code == 200
    assert r.json()["metadata"]["properties"]["owner"] == "wire-test"
    t.refresh()
    assert t.metadata.properties["owner"] == "wire-test"
    assert t.metadata.refs["audit"].type == "tag"

    # unknown requirement type -> 400-family, not applied silently
    r = requests.post(url, json={
        "requirements": [{"type": "assert-moon-phase"}], "updates": []})
    assert r.status_code in (400, 500)


def test_commit_body_without_requirements_or_updates_is_rejected(spark, service, rcat):
    """The commit endpoint speaks only the Iceberg requirements/updates
    shape: a whole-metadata body with an expected version is a 400, and the
    table is left as it was."""
    import requests

    t = rcat.create_table("db", "oldbody", from_spark_schema(proto_df(spark).schema))
    t.append(proto_df(spark))
    url = f"{service}/v1/namespaces/db/tables/oldbody"
    cur = requests.get(url).json()
    md = dict(cur["metadata"], properties={**cur["metadata"]["properties"], "x": "1"})
    r = requests.post(f"{url}/commit", json={"expected-version": cur["version"],
                                             "metadata": md})
    assert r.status_code == 400
    after = requests.get(url).json()
    assert after["version"] == cur["version"]
    assert after["metadata"] == cur["metadata"]


def test_wire_commit_full_crud_through_client(spark, rcat):
    """The client now commits via requirements/updates for every mutation
    class: snapshot-producing ops, schema evolution, properties, rollback,
    tags. Exercise each and confirm the service state matches."""
    t = rcat.create_table("db", "full", from_spark_schema(proto_df(spark).schema))
    t.append(proto_df(spark))
    t.delete(gi.eq("id", 3))
    assert sorted(r.id for r in t.to_df().collect()) == [0, 1, 2, 4]

    first = t.snapshots()[0]
    t.create_tag("v1", first.snapshot_id)
    t.set_properties({"team": "data"})
    t.remove_properties(["team"])
    from go_iceberg_spark.schema import STRING

    t.update_schema().add_column("extra", STRING).commit()
    assert t.refresh().schema.find_field("extra") is not None

    t.rollback_to(first.snapshot_id)
    assert sorted(r.id for r in t.to_df().collect()) == [0, 1, 2, 3, 4]
    assert t.refresh().metadata.refs["v1"].snapshot_id == first.snapshot_id


def test_rest_concurrent_appends_all_land(spark, rcat):
    """r4: RACING writers through the REST commit protocol (HTTP 409 +
    assert-ref-snapshot-id, not the filesystem O_EXCL path): 6 threads x 2
    appends from separate handles all land with a linear snapshot chain and
    no lost data files — the server-side counterpart of
    test_truly_concurrent_appends_all_land."""
    import threading

    df = proto_df(spark)
    rcat.create_table(("db",), "race_rest", from_spark_schema(df.schema))
    N_THREADS, N_APPENDS = 6, 2
    errors = []

    def writer(k):
        try:
            h = rcat.load_table(("db",), "race_rest")
            h.max_retries = 50
            for j in range(N_APPENDS):
                h.append(proto_df(spark, offset=(k * N_APPENDS + j + 1) * 1000))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors

    t = rcat.load_table(("db",), "race_rest")
    assert t.scan().count() == N_THREADS * N_APPENDS * 5
    snaps = t.snapshots()
    assert len(snaps) == N_THREADS * N_APPENDS
    seqs = [s.sequence_number for s in snaps]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    live = {e.file_path for e in t.manifest_entries(t.current_snapshot())}
    added = sum(int(s.summary.get("added-data-files", "0")) for s in snaps)
    assert len(live) == added, "lost data files through the REST commit path"


def test_rest_expire_rewires_parents_and_changes_work(spark, rcat):
    """r6 probe BUG FIX: the remove-snapshots update used to drop snapshots
    server-side WITHOUT rewiring retained snapshots' parent pointers (the
    client rewires locally, but modified-retained snapshots are neither
    added nor removed on the wire) — every changelog/incremental read over
    the gap then died with 'no longer retained'. The applier now rewires by
    original ancestry, converging with the local expire result, and stamps
    each rewired snapshot ``parent-rewired`` as the local expiry does, so a
    rewired branch snapshot refuses cherrypick under both catalogs."""
    import time

    rcat.create_namespace(("db",))
    df = spark.createDataFrame([Row(id=0, name="a")])
    t = rcat.create_table(("db",), "rexp", from_spark_schema(df.schema))
    t.append(df)
    s2 = t.append(spark.createDataFrame([Row(id=1, name="b")]))
    s3 = t.append(spark.createDataFrame([Row(id=2, name="c")]))

    t.expire_snapshots(older_than=int(time.time() * 1000) + 10_000, retain_last=2)

    t2 = rcat.load_table(("db",), "rexp")      # fresh load: server-side truth
    parents = {s.snapshot_id: s.parent_snapshot_id for s in t2.snapshots()}
    assert set(parents) == {s2.snapshot_id, s3.snapshot_id}
    assert parents[s2.snapshot_id] is None     # rewired past the expired root
    assert t2.snapshot_by_id(s2.snapshot_id).summary.get("parent-rewired") == "true"
    ch = sorted((r.id, r["_change_type"]) for r in t2.changes().collect())
    assert ch == [(0, "insert"), (1, "insert"), (2, "insert")]

    # the streaming high-water property commits atomically through REST too
    from go_iceberg_spark.streaming.stream import (
        HIGH_WATER_PROP,
        append_batch_exactly_once,
    )

    assert append_batch_exactly_once(
        t2, spark.createDataFrame([Row(id=9, name="z")]), "ck", 1) is True
    t3 = rcat.load_table(("db",), "rexp")
    assert t3.metadata.properties.get(HIGH_WATER_PROP + "ck") == "1"
    assert append_batch_exactly_once(
        t3, spark.createDataFrame([Row(id=9, name="z")]), "ck", 1) is False

    # a branch snapshot whose parent a REST expiry removed: its delta against
    # the rewired parent holds the gap's rows too, so the pick is refused
    tp = rcat.create_table(("db",), "rpick", from_spark_schema(df.schema))
    p1 = tp.append(spark.createDataFrame([Row(id=1, name="a")]))
    tp.create_tag("base", p1.snapshot_id)
    tp.create_branch("audit", p1.snapshot_id)
    tp.append_to_branch("audit", spark.createDataFrame([Row(id=2, name="b")]))
    p3 = tp.append_to_branch("audit", spark.createDataFrame([Row(id=3, name="c")]))
    tp.expire_snapshots(older_than=int(time.time() * 1000) + 1_000, retain_last=1)
    tp = rcat.load_table(("db",), "rpick")
    with pytest.raises(ValidationError, match="rewired"):
        tp.cherrypick(p3.snapshot_id)
    assert [r.id for r in tp.to_df().collect()] == [1]


def test_rename_rewrites_location_and_data_follows(spark, rcat):
    """r7 probe find: the server-side rename moved the table directory but
    the metadata kept the SOURCE location — clients attach at
    metadata.location, so reads through the new name raised
    FileNotFoundError on the stale path and new writes would have landed
    there. Rename now commits a location rewrite at the destination."""
    t = rcat.create_table(("db",), "mv_src", from_spark_schema(proto_df(spark).schema))
    t.append(proto_df(spark, 3))
    rcat.rename_table(("db",), "mv_src", ("db",), "mv_dst")

    t2 = rcat.load_table(("db",), "mv_dst")
    assert t2.location.endswith("/db/mv_dst")
    assert t2.to_df().count() == 3          # reads resolve under the new dir
    t2.append(proto_df(spark, 2, offset=100))  # writes land under the new dir
    assert rcat.load_table(("db",), "mv_dst").to_df().count() == 5

    # a second rename keeps following
    rcat.rename_table(("db",), "mv_dst", ("db",), "mv_final")
    t3 = rcat.load_table(("db",), "mv_final")
    assert t3.location.endswith("/db/mv_final") and t3.to_df().count() == 5


def test_rename_races_two_clients(spark, rcat, service):
    """r7 probe sweep (rename-vs-rename through two handles): the loser of a
    same-source rename race gets TableNotFoundError; racing to the same
    destination gets TableAlreadyExistsError with the loser's source
    intact; a commit through a renamed-away handle is refused and must not
    resurrect the old name."""
    other = RESTCatalog(spark, service)

    rcat.create_table(("db",), "race_t", from_spark_schema(proto_df(spark).schema))
    rcat.rename_table(("db",), "race_t", ("db",), "race_a")
    with pytest.raises(TableNotFoundError):
        other.rename_table(("db",), "race_t", ("db",), "race_b")
    assert rcat.table_exists(("db",), "race_a") and not rcat.table_exists(("db",), "race_b")

    rcat.create_table(("db",), "race_s1", from_spark_schema(proto_df(spark).schema))
    rcat.create_table(("db",), "race_s2", from_spark_schema(proto_df(spark).schema))
    rcat.rename_table(("db",), "race_s1", ("db",), "race_dest")
    with pytest.raises(TableAlreadyExistsError):
        other.rename_table(("db",), "race_s2", ("db",), "race_dest")
    assert other.table_exists(("db",), "race_s2")

    h = rcat.create_table(("db",), "race_h", from_spark_schema(proto_df(spark).schema))
    h.append(proto_df(spark, 2))
    other.rename_table(("db",), "race_h", ("db",), "race_h2")
    with pytest.raises((TableNotFoundError, FileNotFoundError, CommitConflictError)):
        h.append(proto_df(spark, 2, offset=50))  # stale handle: refused
    assert not rcat.table_exists(("db",), "race_h")  # old name not resurrected
    assert rcat.load_table(("db",), "race_h2").to_df().count() == 2


def test_rows_preserved_marker_survives_rest_commits(spark, rcat):
    """r7: the rows-preserved summary marker maintenance replaces stamp
    must survive the REST commit protocol's snapshot serialization — a
    fresh handle's incremental scan across a compaction + manifest
    rewrite reads only the genuinely-new rows instead of raising."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema
    from go_iceberg_spark.table.incremental import incremental_append_scan

    t = rcat.create_table(("db",), "rp", from_spark_schema(
        spark.createDataFrame([Row(id=0, v=0.0)]).schema))
    t.append(spark.createDataFrame([Row(id=i, v=float(i)) for i in range(6)]))
    s1 = t.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([Row(id=100, v=1.0)]))
    t.rewrite_data_files(min_input_files=2)
    t.rewrite_manifests(target_entries_per_manifest=2)
    t.append(spark.createDataFrame([Row(id=200, v=2.0)]))

    t2 = rcat.load_table(("db",), "rp")
    got = sorted(r.id for r in incremental_append_scan(t2, s1).collect())
    assert got == [100, 200], got

"""One catalog contract, three deployments: the warehouse catalog on a local
directory and on an ``s3://`` or ``s3a://`` prefix (moto), and the REST
client over the in-process service. Each runs the same namespace and table
lifecycle, so a behaviour one of them drifts from fails here for that one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from go_iceberg_spark.catalog.catalog import FilesystemCatalog
from go_iceberg_spark.catalog.rest import RESTCatalog
from go_iceberg_spark.catalog.rest_server import serve_background
from go_iceberg_spark.errors import (
    CommitConflictError,
    IcebergError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NamespaceNotFoundError,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from go_iceberg_spark.schema import from_spark_schema
from go_iceberg_spark.table.metadata import load_metadata


@pytest.fixture(params=["local", "s3", "s3a", "rest"])
def cat(request, spark, tmp_path):
    if request.param == "local":
        yield FilesystemCatalog(spark, str(tmp_path / "wh"))
    elif request.param.startswith("s3"):
        moto = pytest.importorskip("moto")
        import boto3

        from go_iceberg_spark.io.fileio import S3FileIO

        with moto.mock_aws():
            client = boto3.client("s3", region_name="us-east-1")
            client.create_bucket(Bucket="lake")
            yield FilesystemCatalog(spark, f"{request.param}://lake/wh",
                                    io=S3FileIO(client=client))
    else:
        srv, uri = serve_background(str(tmp_path / "wh"))
        try:
            yield RESTCatalog(spark, uri)
        finally:
            srv.shutdown()


@pytest.fixture()
def schema(spark):
    return from_spark_schema(spark.createDataFrame([Row(id=1, name="a")]).schema)


def test_namespace_lifecycle(cat):
    cat.create_namespace(("db",), {"owner": "tests"})
    with pytest.raises(NamespaceAlreadyExistsError):
        cat.create_namespace(("db",))
    assert cat.namespace_exists(("db",))
    assert cat.namespace_properties(("db",)) == {"owner": "tests"}
    cat.create_namespace("db.inner")
    assert cat.list_namespaces() == [("db",), ("db", "inner")]
    with pytest.raises(NamespaceNotFoundError):
        cat.namespace_properties(("nope",))

    cat.drop_namespace("db.inner")
    cat.drop_namespace(("db",))
    assert not cat.namespace_exists(("db",))
    assert cat.list_namespaces() == []
    with pytest.raises(NamespaceNotFoundError):
        cat.drop_namespace(("db",))


def test_table_lifecycle(cat, schema):
    t = cat.create_table(("db",), "t", schema)  # creates the namespace too
    assert cat.namespace_exists(("db",))
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table(("db",), "t", schema)
    cat.create_table(("db",), "t2", schema)

    loaded = cat.load_table(("db",), "t")
    assert loaded.metadata.table_uuid == t.metadata.table_uuid
    assert loaded.location == t.location
    assert cat.list_tables(("db",)) == ["t", "t2"]
    assert cat.table_exists(("db",), "t")
    assert not cat.table_exists(("db",), "nope")
    with pytest.raises(TableNotFoundError):
        cat.load_table(("db",), "nope")

    # a drop removes the table, leaves its sibling, and frees the name
    cat.drop_table(("db",), "t")
    assert not cat.table_exists(("db",), "t")
    assert cat.list_tables(("db",)) == ["t2"]
    with pytest.raises(TableNotFoundError):
        cat.load_table(("db",), "t")
    with pytest.raises(TableNotFoundError):
        cat.drop_table(("db",), "t")
    again = cat.create_table(("db",), "t", schema)
    assert again.metadata.table_uuid != t.metadata.table_uuid
    assert cat.load_table(("db",), "t").version == 1


def test_drop_namespace_with_a_table_is_refused(cat, schema):
    cat.create_table(("db",), "t", schema)
    with pytest.raises(NamespaceNotEmptyError):
        cat.drop_namespace(("db",))
    assert cat.namespace_exists(("db",)) and cat.table_exists(("db",), "t")
    cat.drop_table(("db",), "t")
    cat.drop_namespace(("db",))
    assert not cat.namespace_exists(("db",))


def test_drop_parent_namespace_keeps_children(cat, schema):
    """Dropping ``a`` while ``a.b`` holds a table must delete nothing."""
    cat.create_namespace(("a",))
    cat.create_table(("a", "b"), "t", schema)
    with pytest.raises(NamespaceNotEmptyError):
        cat.drop_namespace(("a",))
    assert cat.table_exists(("a", "b"), "t")
    assert cat.namespace_exists(("a",)) and cat.namespace_exists(("a", "b"))

    # an empty child namespace also keeps its parent
    cat.drop_table(("a", "b"), "t")
    with pytest.raises(NamespaceNotEmptyError):
        cat.drop_namespace(("a",))
    cat.drop_namespace(("a", "b"))
    cat.drop_namespace(("a",))
    assert cat.list_namespaces() == []


def test_local_drop_namespace_removes_its_directories(spark, tmp_path, schema):
    wh = tmp_path / "wh"
    cat = FilesystemCatalog(spark, str(wh))
    cat.create_namespace(("a",))
    cat.create_table(("a", "b"), "t", schema)
    cat.drop_table(("a", "b"), "t")
    cat.drop_namespace(("a", "b"))
    cat.drop_namespace(("a",))
    assert not (wh / "a").exists()
    assert wh.is_dir()


def _lose_rename_races(monkeypatch, n):
    """Make the catalog's next ``n`` metadata commits lose their race."""
    import go_iceberg_spark.catalog.catalog as catalog_mod

    real = catalog_mod.commit_metadata
    lost = []

    def commit(*args, **kwargs):
        if len(lost) < n:
            lost.append(1)
            raise CommitConflictError("lost race")
        return real(*args, **kwargs)

    monkeypatch.setattr(catalog_mod, "commit_metadata", commit)
    return lost


def test_rename_retries_a_lost_location_rewrite(spark, tmp_path, schema, monkeypatch):
    cat = FilesystemCatalog(spark, str(tmp_path / "wh"))
    cat.create_table(("db",), "src", schema)
    lost = _lose_rename_races(monkeypatch, 1)
    cat.rename_table(("db",), "src", ("db",), "dst")
    assert lost == [1]
    dst = cat.load_table(("db",), "dst")
    md, _ = load_metadata(dst.location)
    assert md.location == dst.location and md.location.endswith("/db/dst")


def test_rename_raises_after_five_lost_races(spark, tmp_path, schema, monkeypatch):
    cat = FilesystemCatalog(spark, str(tmp_path / "wh"))
    cat.create_table(("db",), "src", schema)
    _lose_rename_races(monkeypatch, 5)
    with pytest.raises(IcebergError, match="location"):
        cat.rename_table(("db",), "src", ("db",), "dst")

"""FileIO tests — port of the reference's io/local_test.go intents
(create/read/length, delete, exists, exclusive-create, range read)."""

from __future__ import annotations

import pytest

from go_iceberg_spark.errors import ValidationError
from go_iceberg_spark.io.fileio import LocalFileIO, S3FileIO, for_location, strip_file_scheme


@pytest.fixture()
def io_(tmp_path):
    return LocalFileIO(), str(tmp_path)


def test_create_read_size(io_):
    io, root = io_
    p = f"{root}/a/b/data.bin"
    io.create(p, b"hello world")
    assert io.read(p) == b"hello world"
    assert io.size(p) == 11
    assert io.exists(p)


def test_exclusive_create_collision(io_):
    io, root = io_
    p = f"{root}/x.bin"
    io.create(p, b"one")
    with pytest.raises(FileExistsError):
        io.create(p, b"two")
    io.create(p, b"two", overwrite=True)
    assert io.read(p) == b"two"


def test_range_read(io_):
    io, root = io_
    p = f"{root}/r.bin"
    io.create(p, b"0123456789")
    assert io.read_range(p, 2, 4) == b"2345"
    assert io.read_range(p, 8, 100) == b"89"  # clamped at EOF


def test_delete_and_exists(io_):
    io, root = io_
    p = f"{root}/d.bin"
    io.create(p, b"x")
    io.delete(p)
    assert not io.exists(p)


def test_file_scheme_normalization(io_):
    io, root = io_
    p = f"{root}/s.bin"
    io.create(f"file://{p}", b"via-uri")
    assert io.read(p) == b"via-uri"
    assert strip_file_scheme("file:///tmp/x") == "/tmp/x"


def test_list_recursive(io_):
    io, root = io_
    io.create(f"{root}/l/one.bin", b"1")
    io.create(f"{root}/l/sub/two.bin", b"2")
    files = io.list(f"{root}/l")
    assert len(files) == 2 and files[0].endswith("one.bin")


def test_scheme_dispatch(io_):
    _, root = io_
    assert isinstance(for_location(root), LocalFileIO)
    assert isinstance(for_location("s3://bkt/key"), S3FileIO)


@pytest.fixture()
def s3io():
    moto = pytest.importorskip("moto")
    import boto3

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="warehouse")
        yield S3FileIO(client=client)


def test_s3_create_read_range_size(s3io):
    s3io.create("s3://warehouse/meta/v1.json", b"0123456789")
    assert s3io.read("s3://warehouse/meta/v1.json") == b"0123456789"
    assert s3io.read_range("s3://warehouse/meta/v1.json", 2, 4) == b"2345"
    assert s3io.size("s3://warehouse/meta/v1.json") == 10
    assert s3io.exists("s3://warehouse/meta/v1.json")
    assert not s3io.exists("s3://warehouse/meta/v2.json")


def test_s3_exclusive_create(s3io):
    s3io.create("s3://warehouse/x", b"one")
    with pytest.raises(FileExistsError):
        s3io.create("s3://warehouse/x", b"two")
    s3io.create("s3://warehouse/x", b"two", overwrite=True)
    assert s3io.read("s3://warehouse/x") == b"two"


def test_s3_delete_and_list(s3io):
    s3io.create("s3://warehouse/d/a", b"1")
    s3io.create("s3://warehouse/d/sub/b", b"2")
    assert s3io.list("s3://warehouse/d") == ["s3://warehouse/d/a", "s3://warehouse/d/sub/b"]
    s3io.delete("s3://warehouse/d/a")
    assert not s3io.exists("s3://warehouse/d/a")


def test_s3_list_keeps_the_prefix_scheme(s3io):
    s3io.create("s3a://warehouse/d/a", b"1")
    assert s3io.list("s3a://warehouse/d/") == ["s3a://warehouse/d/a"]
    assert s3io.list("s3://warehouse/d/") == ["s3://warehouse/d/a"]


@pytest.fixture(params=["local", "s3"])
def store(request, tmp_path):
    """(FileIO, root) for each implementation, for the behaviour both share."""
    if request.param == "local":
        return LocalFileIO(), str(tmp_path)
    return request.getfixturevalue("s3io"), "s3://warehouse/root"


def test_exclusive_create_on_existing_path_leaves_no_temp_file(store):
    io, root = store
    p = f"{root}/m/v1.json"
    io.create(p, b"one")
    with pytest.raises(FileExistsError):
        io.create(p, b"two")
    assert io.read(p) == b"one"
    assert io.list(f"{root}/m") == [p]


def test_overwrite_replaces_content_and_leaves_no_temp_file(store):
    io, root = store
    p = f"{root}/m/list.json"
    io.create(p, b"first")
    io.create(p, b"second", overwrite=True)
    assert io.read(p) == b"second"
    assert io.list(f"{root}/m") == [p]


def test_read_of_missing_path_raises_file_not_found(store):
    io, root = store
    with pytest.raises(FileNotFoundError):
        io.read(f"{root}/m/absent.json")


def test_s3_uri_validation():
    from go_iceberg_spark.io.fileio import parse_s3_uri

    assert parse_s3_uri("s3a://b/k/x.json") == ("b", "k/x.json")
    with pytest.raises(ValidationError):
        parse_s3_uri("s3://bucketonly")
    with pytest.raises(ValidationError):
        parse_s3_uri("/local/path")


def test_delete_tree_removes_only_its_directory(store):
    io, root = store
    for p in ("t/a", "t/sub/b", "t2/c"):
        io.create(f"{root}/{p}", b"x")
    io.delete_tree(f"{root}/t")
    assert io.list(root) == [f"{root}/t2/c"]

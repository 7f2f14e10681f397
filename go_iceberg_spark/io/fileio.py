"""FileIO abstraction (reference: io/fileio.go:10-76, io/local.go, io/s3.go).

The reference routes ALL storage through a small interface: open-for-read
(with range reads), create-exclusive (the primitive its optimistic metadata
commits rely on), delete, exists, size. This module reproduces that surface,
and every metadata read, write and commit of the table layer goes through it:

- ``LocalFileIO`` — normalizes ``file://`` URIs like reference
  io/local.go:13-60; range read via seek+limit. ``create`` publishes
  atomically: the bytes go to a temp file in the target directory, which an
  exclusive create links to the final name (``os.link`` fails with EEXIST
  if the name exists) and an overwrite renames over it (``os.replace``), so
  a reader never sees a partly written file.
- ``S3FileIO`` — the reference's io/s3.go shape (range GET, single PUT,
  MinIO path-style); exclusive create is a conditional PUT
  (If-None-Match: *). It needs boto3. Spark itself reads and writes
  ``s3a://`` data paths via Hadoop S3A (configured in session.py); this
  class serves driver-side METADATA I/O.

Both raise ``FileNotFoundError`` when reading a missing path and
``FileExistsError`` when an exclusive create finds one.
``for_location(path)`` picks the implementation from the URI scheme.
"""

from __future__ import annotations

import os
import shutil
import uuid

from ..errors import ValidationError


def strip_file_scheme(path: str) -> str:
    """file:///x -> /x ; file:/x -> /x (reference: io/local.go URI normalize)."""
    if path.startswith("file://"):
        return path[len("file://") :] or "/"
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


class FileIO:
    """Storage interface (reference: io/fileio.go:10-76)."""

    def read(self, path: str) -> bytes:
        raise NotImplementedError

    def read_range(self, path: str, start: int, length: int) -> bytes:
        raise NotImplementedError

    def create(self, path: str, data: bytes, *, overwrite: bool = False) -> None:
        """Write a new file. overwrite=False is EXCLUSIVE create: raises
        FileExistsError if the object exists (the optimistic-commit
        primitive, reference: io/local.go O_EXCL create)."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        """Last-modified time, seconds since epoch (maintenance sweeps use
        it to grant in-flight commits a grace period)."""
        raise NotImplementedError

    def list(self, prefix: str) -> list[str]:
        raise NotImplementedError

    def delete_tree(self, prefix: str) -> None:
        """Delete everything under the directory ``prefix``."""
        for p in self.list(prefix.rstrip("/") + "/"):
            self.delete(p)


class LocalFileIO(FileIO):
    """Local filesystem FileIO (reference: io/local.go:13-188)."""

    def _p(self, path: str) -> str:
        return strip_file_scheme(path)

    def read(self, path: str) -> bytes:
        with open(self._p(path), "rb") as f:
            return f.read()

    def read_range(self, path: str, start: int, length: int) -> bytes:
        with open(self._p(path), "rb") as f:
            f.seek(start)
            return f.read(length)

    def create(self, path: str, data: bytes, *, overwrite: bool = False) -> None:
        p = self._p(path)
        d = os.path.dirname(p) or "."
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{os.path.basename(p)}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
                if not overwrite:
                    f.flush()
                    os.fsync(f.fileno())
            if overwrite:
                os.replace(tmp, p)
            else:
                os.link(tmp, p)  # raises FileExistsError on EEXIST
        finally:
            try:
                os.unlink(tmp)
            except OSError:  # gone after os.replace; never fails the create
                pass

    def delete(self, path: str) -> None:
        os.remove(self._p(path))

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    def mtime(self, path: str) -> float:
        return os.path.getmtime(self._p(path))

    def list(self, prefix: str) -> list[str]:
        p = self._p(prefix)
        if not os.path.isdir(p):
            return []
        out = []
        for root, _dirs, files in os.walk(p):
            for fn in files:
                out.append(os.path.join(root, fn))
        return sorted(out)

    def delete_tree(self, prefix: str) -> None:
        shutil.rmtree(self._p(prefix))


def parse_s3_uri(path: str) -> tuple[str, str]:
    """s3[a|n]://bucket/key -> (bucket, key) (reference: io/s3.go:78-96)."""
    for scheme in ("s3://", "s3a://", "s3n://"):
        if path.startswith(scheme):
            rest = path[len(scheme) :]
            bucket, _, key = rest.partition("/")
            if not bucket or not key:
                raise ValidationError(f"invalid S3 URI {path!r}: need s3://bucket/key")
            return bucket, key
    raise ValidationError(f"not an S3 URI: {path!r}")


class S3FileIO(FileIO):
    """S3 FileIO over boto3 (reference: io/s3.go:34-351): range GET, single
    PUT on create (the reference buffers writes and PUTs on close —
    io/s3.go:332-351; here ``create`` takes the full payload, same effect),
    MinIO path-style addressing. Exclusive create uses S3 conditional PUT
    (If-None-Match: *), giving the same optimistic-commit primitive as
    ``LocalFileIO``'s link. Spark executors read/write s3a:// DATA paths via Hadoop
    S3A (session.py confs); this class serves driver-side METADATA IO."""

    def __init__(self, endpoint: str | None = None, access_key: str | None = None,
                 secret_key: str | None = None, path_style: bool = False, client=None):
        try:
            import boto3
            from botocore.config import Config
        except ImportError as e:  # pragma: no cover - boto3 is an optional dep
            raise ValidationError("S3FileIO requires boto3") from e
        if client is not None:
            self._s3 = client
            return
        cfg = Config(s3={"addressing_style": "path"}) if path_style else None
        self._s3 = boto3.client(
            "s3", endpoint_url=endpoint, aws_access_key_id=access_key,
            aws_secret_access_key=secret_key, config=cfg,
        )

    def read(self, path: str) -> bytes:
        b, k = parse_s3_uri(path)
        try:
            return self._s3.get_object(Bucket=b, Key=k)["Body"].read()
        except self._s3.exceptions.NoSuchKey as e:
            raise FileNotFoundError(path) from e

    def read_range(self, path: str, start: int, length: int) -> bytes:
        b, k = parse_s3_uri(path)
        rng = f"bytes={start}-{start + length - 1}"
        return self._s3.get_object(Bucket=b, Key=k, Range=rng)["Body"].read()

    def create(self, path: str, data: bytes, *, overwrite: bool = False) -> None:
        b, k = parse_s3_uri(path)
        if overwrite:
            self._s3.put_object(Bucket=b, Key=k, Body=data)
            return
        try:
            self._s3.put_object(Bucket=b, Key=k, Body=data, IfNoneMatch="*")
        except self._s3.exceptions.ClientError as e:  # PreconditionFailed -> exists
            code = e.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "412"):
                raise FileExistsError(path) from e
            raise

    def delete(self, path: str) -> None:
        b, k = parse_s3_uri(path)
        self._s3.delete_object(Bucket=b, Key=k)

    def exists(self, path: str) -> bool:
        b, k = parse_s3_uri(path)
        try:
            self._s3.head_object(Bucket=b, Key=k)
            return True
        except self._s3.exceptions.ClientError as e:
            if e.response.get("ResponseMetadata", {}).get("HTTPStatusCode") == 404:
                return False
            raise

    def size(self, path: str) -> int:
        b, k = parse_s3_uri(path)
        return self._s3.head_object(Bucket=b, Key=k)["ContentLength"]

    def mtime(self, path: str) -> float:
        b, k = parse_s3_uri(path)
        return self._s3.head_object(Bucket=b, Key=k)["LastModified"].timestamp()

    def list(self, prefix: str) -> list[str]:
        for scheme in ("s3://", "s3a://", "s3n://"):
            if prefix.startswith(scheme):
                bucket, _, key = prefix[len(scheme):].partition("/")
                break
        else:
            raise ValidationError(f"not an S3 URI: {prefix!r}")
        out = []
        paginator = self._s3.get_paginator("list_objects_v2")
        for page in paginator.paginate(Bucket=bucket, Prefix=key):
            for obj in page.get("Contents", []):
                out.append(f"{scheme}{bucket}/{obj['Key']}")
        return sorted(out)


# the FileIO of every metadata function called without one
LOCAL_IO = LocalFileIO()


def for_location(path: str) -> FileIO:
    """Scheme-dispatched FileIO (reference: iceberg.go:79-99 factory)."""
    if path.startswith(("s3://", "s3a://", "s3n://")):
        return S3FileIO()
    return LOCAL_IO

"""Multimodal columns: images/audio/video as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched Pandas functions over
``mapInPandas``.

The container has no image/audio codecs, so the DECODE step is stubbed
(deterministic fake features / NotImplementedError for real codecs) — but the
Spark-side plumbing is real and tested: schema conventions, Arrow batch
transfer of binary columns, batch-shaped UDF signatures, and partition-size
control for memory-bounded media batches.

Scale notes (100 TB of media): binary payloads dominate partition size, so
``media_repartition`` sizes partitions by BYTES (payload sum), not row count;
decode stages use ``mapInPandas`` so one task streams batches instead of
materializing a partition of blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# schema convention for a multimodal asset column group
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_DIM = 16


def attach_media(df: DataFrame, text_to_bytes_col: str, media_type: str = "image", fmt: str = "raw") -> DataFrame:
    """Test helper: materialize an opaque binary payload column + metadata
    struct from an existing column (deterministic; no codecs involved)."""
    return df.withColumn("media_bytes", F.encode(F.col(text_to_bytes_col), "UTF-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic fake 'decoded' feature vector: bytes of sha256 digest
    scaled to [0,1). Stands in for a real decode→embed pipeline; REPLACE with
    a codec-backed implementation where libraries are available."""
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def extract_features(df: DataFrame, id_col: str, bytes_col: str = "media_bytes") -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Output: (id, n_bytes, sha256, features array<double>). The decode is the
    deterministic stub above; the Arrow batch path, schema, and memory shape
    are production-real."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), False),
            T.StructField("sha256", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), False),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[bytes_col]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": payloads.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                    "features": payloads.map(lambda b: _fake_decode_features(bytes(b))),
                }
            )

    # NULL payloads (fetch failures are routine in media tables) have no
    # features — drop them BEFORE the Arrow batch instead of len(None)-ing
    # inside it
    return (df.select(id_col, bytes_col)
            .filter(F.col(bytes_col).isNotNull())
            .mapInPandas(process, out_schema))


def parse_image_header(b: bytes) -> tuple[str | None, int | None, int | None]:
    """REAL (format, width, height) from container header bytes — stdlib
    ``struct`` only, no codec: PNG IHDR, JPEG SOFn
    segment walk, GIF logical-screen descriptor, BMP info header. Returns
    (None, None, None) for unrecognized/truncated payloads — metadata
    extraction over a 100 TB media crawl must tolerate garbage rows, not
    throw. Pixel decode stays honestly NotImplemented (``decode_image``)."""
    import struct as _s

    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = _s.unpack(">II", b[16:24])
        return "png", w, h
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        # JPEG: walk marker segments to the first SOFn (C0-CF minus the
        # non-frame C4/C8/CC); dimensions live 5 bytes into its payload
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = _s.unpack(">HH", b[i + 5 : i + 9])
                return "jpeg", w, h
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            (seg_len,) = _s.unpack(">H", b[i + 2 : i + 4])
            i += 2 + seg_len
        return "jpeg", None, None  # JPEG magic but no parseable frame
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = _s.unpack("<HH", b[6:10])
        return "gif", w, h
    if len(b) >= 26 and b[:2] == b"BM":
        w, h = _s.unpack("<ii", b[18:26])
        return "bmp", w, abs(h)  # negative height = top-down DIB
    return None, None, None


def decode_image_metadata(df: DataFrame, id_col: str, bytes_col: str = "media_bytes") -> DataFrame:
    """mapInPandas header-metadata decode: (id, media_meta) where
    ``media_meta`` is the MEDIA_META_SCHEMA struct with REAL format/width/
    height parsed from PNG/JPEG/GIF/BMP header bytes (``parse_image_header``
    — stdlib struct, no codecs). Arrow-batched; NULL payloads dropped
    before the batch (fetch failures are routine in media tables)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("media_meta", MEDIA_META_SCHEMA, False),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for payload in pdf[bytes_col]:
                fmt, w, h = parse_image_header(bytes(payload))
                metas.append({"media_type": "image", "format": fmt,
                              "width": w, "height": h, "duration_ms": None})
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "media_meta": metas})

    return (df.select(id_col, bytes_col)
            .filter(F.col(bytes_col).isNotNull())
            .mapInPandas(process, out_schema))


def synth_image_bytes(kind: str, width: int, height: int) -> bytes:
    """Fixture builder: REAL container header bytes (valid PNG signature +
    IHDR / JPEG APP0 + SOF0 walk / GIF89a screen descriptor) carrying the
    given dimensions, with no pixel data — what a header-only metadata
    parser sees of a real file. Deterministic, stdlib-only."""
    import struct as _s

    if kind == "png":
        ihdr = _s.pack(">II", width, height) + b"\x08\x06\x00\x00\x00"
        return (b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + ihdr
                + b"\x00\x00\x00\x00")  # CRC placeholder — parser ignores it
    if kind == "jpeg":
        app0 = b"\xff\xe0" + _s.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        sof0 = (b"\xff\xc0" + _s.pack(">H", 17) + b"\x08"
                + _s.pack(">HH", height, width)
                + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
        return b"\xff\xd8" + app0 + sof0
    if kind == "gif":
        return b"GIF89a" + _s.pack("<HH", width, height) + b"\xf7\x00\x00"
    raise ValueError(f"unknown fixture kind {kind!r}")


def attach_synthetic_images(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture: derive a real-headered image payload per row from the id —
    format cycles png/jpeg/gif by id%3, dimensions are id arithmetic
    (1 + id*37 % 4096 wide, 1 + id*59 % 4096 tall), and every id%13==0 row
    is GARBAGE bytes (no recognizable container) so parsers' tolerance
    paths stay exercised. Built inside mapInPandas: at scale the payloads
    are generated executor-side, never on the driver."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("media_bytes", T.BinaryType(), False),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for rid in pdf[id_col]:
                d = int(rid)
                if d % 13 == 0:
                    payloads.append(b"\x00garbage-not-an-image\x00" + bytes([d % 251]))
                else:
                    kind = ("png", "jpeg", "gif")[d % 3]
                    payloads.append(synth_image_bytes(
                        kind, 1 + (d * 37) % 4096, 1 + (d * 59) % 4096))
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "media_bytes": payloads})

    return df.select(id_col).mapInPandas(process, out_schema)


def synth_bmp_bytes(width: int, height: int, seed: int) -> bytes:
    """Fixture builder: a REAL uncompressed 24-bit BMP —
    BITMAPFILEHEADER + BITMAPINFOHEADER, BI_RGB, bottom-up rows padded to 4
    bytes — whose pixel (x, y) is the closed form
    R=(7x+13y+seed)%256, G=(3x+5y+seed)%256, B=(x+y+seed)%256, so any
    engine can recompute every byte arithmetically (the DuckDB oracle for
    ``multimodal_bmp_resize_checksum`` does exactly that)."""
    import struct as _s

    row_pad = (-(width * 3)) % 4
    pix = bytearray()
    for y in range(height - 1, -1, -1):  # file rows are bottom-up
        for x in range(width):
            r = (7 * x + 13 * y + seed) % 256
            g = (3 * x + 5 * y + seed) % 256
            b = (x + y + seed) % 256
            pix += bytes((b, g, r))  # BGR on the wire
        pix += b"\x00" * row_pad
    fh = b"BM" + _s.pack("<IHHI", 14 + 40 + len(pix), 0, 0, 54)
    ih = _s.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pix),
                 2835, 2835, 0, 0)
    return bytes(fh + ih + pix)


def decode_bmp_pixels(b: bytes) -> tuple[int, int, bytes]:
    """Decode an uncompressed 24-bit bottom-up/top-down BMP to
    (width, height, RGB24 row-major top-down bytes) with stdlib ``struct``
    alone — the one mainstream raster format that needs NO codec library.
    Raises ValueError for anything else (compressed, paletted, non-BMP)."""
    import struct as _s

    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = _s.unpack("<I", b[10:14])
    hdr_size, w, h_signed = _s.unpack("<Iii", b[14:26])
    planes, bpp, compression = _s.unpack("<HHI", b[26:34])
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(
            f"only uncompressed 24-bit BMPs decode codec-free "
            f"(got bpp={bpp}, compression={compression})")
    top_down = h_signed < 0
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if len(b) < data_off + stride * h:
        raise ValueError("truncated BMP pixel array")
    out = bytearray(w * h * 3)
    for yo in range(h):
        src_row = yo if top_down else (h - 1 - yo)
        base = data_off + src_row * stride
        row = b[base:base + w * 3]
        o = yo * w * 3
        # BGR -> RGB
        out[o + 0:o + w * 3:3] = row[2::3]
        out[o + 1:o + w * 3:3] = row[1::3]
        out[o + 2:o + w * 3:3] = row[0::3]
    return w, h, bytes(out)


def attach_synthetic_bmps(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture: one real uncompressed 24-bit BMP per row, dimensions and
    pixel seed derived from the id (w = 4 + id%13, h = 4 + id%11,
    seed = id%97) — generated executor-side inside mapInPandas."""
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("media_bytes", T.BinaryType(), False),
    ])

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [synth_bmp_bytes(4 + int(d) % 13, 4 + int(d) % 11,
                                        int(d) % 97) for d in pdf[id_col]]
            yield pd.DataFrame({id_col: pdf[id_col].astype("int64"),
                                "media_bytes": payloads})

    return df.select(id_col).mapInPandas(process, out_schema)


def decode_image(df: DataFrame, id_col: str, bytes_col: str = "media_bytes",
                 *, skip_unsupported: bool = False) -> DataFrame:
    """PIXEL decode: uncompressed 24-bit BMP
    decodes for REAL with stdlib ``struct`` (``decode_bmp_pixels`` — BGR
    flip, bottom-up flip, stride un-padding); PNG/JPEG/GIF still need
    codec libraries absent in this container, so those payloads RAISE
    NotImplementedError (or are dropped under ``skip_unsupported=True`` —
    the posture of a 100 TB crawl job that routes undecodable formats to a
    quarantine sink). Returns (id, width, height, pixels) with pixels as
    RGB24 row-major top-down bytes. Header-only metadata needs no pixels:
    ``decode_image_metadata``."""
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pixels", T.BinaryType(), False),
    ])

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, px = [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[bytes_col]):
                b = bytes(payload)
                try:
                    w, h, rgb = decode_bmp_pixels(b)
                except ValueError:
                    fmt = parse_image_header(b)[0]
                    if skip_unsupported:
                        continue
                    raise NotImplementedError(
                        f"pixel decode for format {fmt!r} requires a codec "
                        "library unavailable in this environment; only "
                        "uncompressed 24-bit BMP decodes codec-free — pass "
                        "skip_unsupported=True to drop such rows")
                ids.append(int(rid))
                ws.append(w)
                hs.append(h)
                px.append(rgb)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "width": pd.Series(ws, dtype="int32"),
                                "height": pd.Series(hs, dtype="int32"),
                                "pixels": px})

    return (df.select(id_col, bytes_col)
            .filter(F.col(bytes_col).isNotNull())
            .mapInPandas(process, out_schema))


def resize_images(
    df: DataFrame, id_col: str, bytes_col: str = "media_bytes", *, width: int = 224, height: int = 224
) -> DataFrame:
    """Image resize over mapInPandas. Uncompressed 24-bit BMP payloads get a
    REAL nearest-neighbor resample (decode via ``decode_bmp_pixels``,
    source index sx = xo*src_w//out_w — pure integer arithmetic, pinned
    byte-for-byte by the ``multimodal_bmp_resize_checksum`` oracle); other
    formats fall back to the deterministic byte-cycle stub (codecs absent
    here), keeping batch shapes, memory budgeting, and schema
    production-real. Swap the stub for a PIL/cv2 call where codecs exist.
    Output payload is RGB24 row-major, exactly width*height*3 bytes."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("media_bytes", T.BinaryType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
        ]
    )
    target = width * height * 3

    def _stub_resize(payload: bytes) -> bytes:
        if not payload:
            return bytes(target)
        reps = target // len(payload) + 1
        return (payload * reps)[:target]

    def _resize(payload: bytes) -> bytes:
        try:
            sw, sh, rgb = decode_bmp_pixels(payload)
        except ValueError:
            return _stub_resize(payload)
        out = bytearray(target)
        for yo in range(height):
            sy = yo * sh // height
            for xo in range(width):
                sx = xo * sw // width
                s = (sy * sw + sx) * 3
                o = (yo * width + xo) * 3
                out[o:o + 3] = rgb[s:s + 3]
        return bytes(out)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "media_bytes": pdf[bytes_col].map(lambda b: _resize(bytes(b))),
                    "width": width,
                    "height": height,
                }
            )

    return (df.select(id_col, bytes_col)
            .filter(F.col(bytes_col).isNotNull())  # see extract_features
            .mapInPandas(process, out_schema))


def sample_frames(
    df: DataFrame, id_col: str, bytes_col: str = "media_bytes", *, every_n_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """Video frame sampling over mapInPandas: one output row per sampled
    frame (id, frame_idx, frame_bytes, offset). The 'frame' extraction is a
    deterministic stub (fixed-stride byte slices standing in for keyframe
    decode); the fan-out shape — one input row to max_frames output rows,
    exploded inside the Arrow batch — is the production pattern for
    ffmpeg-backed sampling."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_bytes", T.BinaryType(), False),
            T.StructField("byte_offset", T.LongType(), False),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, offs = [], [], [], []
            for rid, payload in zip(pdf[id_col], pdf[bytes_col]):
                b = bytes(payload)
                n = min(max_frames, max(1, len(b) // every_n_bytes))
                for i in range(n):
                    off = i * every_n_bytes
                    ids.append(int(rid))
                    idxs.append(i)
                    frames.append(b[off : off + every_n_bytes])
                    offs.append(off)
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"), "frame_idx": pd.Series(idxs, dtype="int32"),
                 "frame_bytes": frames, "byte_offset": pd.Series(offs, dtype="int64")}
            )

    return (df.select(id_col, bytes_col)
            .filter(F.col(bytes_col).isNotNull())  # see extract_features
            .mapInPandas(process, out_schema))


def media_repartition(df: DataFrame, bytes_col: str, target_partition_bytes: int = 256 * 1024 * 1024) -> DataFrame:
    """Repartition media rows so each task holds ~target bytes of payload —
    sampling-based estimate of mean payload size; prevents OOM on skewed
    blob sizes at scale."""
    row = df.select(F.avg(F.length(F.col(bytes_col))).alias("avg"), F.count(F.lit(1)).alias("n")).collect()[0]
    if not row["n"]:
        return df
    total = (row["avg"] or 1) * row["n"]
    parts = max(1, int(total // target_partition_bytes) + 1)
    return df.repartition(parts)

"""Table maintenance: snapshot expiry, data-file compaction, orphan cleanup,
and Iceberg-style metadata tables as DataFrames.

The reference declares the remove-snapshots update vocabulary
(reference: catalog/catalog.go:131-280) and a target-file-size config its
writer never honors (reference: config.go:92, table/writer.go:57-59 single
file per write); these are the operational counterparts a production table
needs — equivalents of Iceberg's ``expire_snapshots`` and
``rewrite_data_files`` procedures.

Scale notes: compaction reads only LIVE files (manifest-driven) and rewrites
them distributed through the normal write path, honoring the target file
size via write.py's size-based repartitioning; expiry is metadata-only plus
local file deletes of now-unreachable data (object-store deletes at scale).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import ValidationError
from .metadata import MAIN_BRANCH, ancestors, now_ms, without_snapshots
from .write import data_path, write_data_files

# manifest artifacts under metadata/: parquet members (m-{sid}-*.parquet),
# avro members (m{gi}-snap-{sid}.avro), avro lists (snap-{sid}.avro), json
# lists (snap-{sid}.manifest-list.json) — NOT v{N}.metadata.json versions
_MANIFEST_FILE_RE = re.compile(
    r"^(m-\d+-.+\.parquet|m\d+-snap-\d+\.avro|snap-\d+\.avro|"
    r"snap-\d+\.manifest-list\.json)$")


def expire_snapshots(table, *, older_than: dt.datetime | int | None = None,
                     retain_last: int = 1,
                     sweep_grace_ms: int = 3_600_000) -> list[str]:
    """Drop snapshots older than the cutoff (keeping at least the latest
    ``retain_last`` and the current snapshot), then delete data/manifest
    files no longer reachable from any retained snapshot. Returns the
    deleted file paths (relative).

    ``sweep_grace_ms``: the metadata-dir sweep skips unreferenced manifest
    files younger than this — a concurrent writer may have just written its
    manifests and not yet landed the metadata pointer; sweeping them would
    corrupt the in-flight commit. Crash debris older than the grace period
    is reclaimed (pass 0 in single-writer cleanup jobs)."""
    if retain_last < 1:
        raise ValidationError("retain_last must be >= 1")
    md = table.metadata
    if isinstance(older_than, dt.datetime):
        older_than = int(older_than.timestamp() * 1000)
    cutoff = older_than if older_than is not None else now_ms() + 1
    # retain_last counts ANCESTORS of the current snapshot (Iceberg
    # expire_snapshots retainLast semantics), not newest-N by timestamp:
    # an abandoned branch head that happens to be the newest snapshot must
    # not dodge expiry once its ref is dropped (otherwise a forgotten audit
    # branch pins its staged files forever).
    keep = {s.snapshot_id for s in ancestors(md, md.current_snapshot_id)[:retain_last]}
    # every branch/tag head stays live (Iceberg ref retention): expiring a
    # staged WAP branch's head out from under its ref would corrupt the ref
    keep |= {r.snapshot_id for r in md.refs.values()}
    # per-ref retention knobs (Iceberg branch retention,
    # reference: spec/snapshot.go:64-70): a ref's min-snapshots-to-keep
    # protects that many of the branch's latest ANCESTORS; its
    # max-snapshot-age-ms protects ancestors younger than the age window
    now = now_ms()
    for r in md.refs.values():
        if r.min_snapshots_to_keep is None and r.max_snapshot_age_ms is None:
            continue
        for kept_n, cur in enumerate(ancestors(md, r.snapshot_id)):
            young = (r.max_snapshot_age_ms is not None
                     and now - cur.timestamp_ms <= r.max_snapshot_age_ms)
            within_min = (r.min_snapshots_to_keep is not None
                          and kept_n < r.min_snapshots_to_keep)
            if not (young or within_min or cur.snapshot_id == r.snapshot_id):
                break
            keep.add(cur.snapshot_id)
    expired = {s.snapshot_id for s in md.snapshots
               if s.snapshot_id not in keep and s.timestamp_ms < cutoff}

    def _manifest_paths(s) -> set[str]:
        """A snapshot's manifest files across BOTH dialects — each list plus
        every member manifest it references (members are shared across
        snapshots; the kept/doomed set difference below keeps reused ones
        alive). In dual mode a snapshot owns a parquet tree (manifest_path)
        AND an avro tree (avro_manifest_path)."""
        from .metadata import manifest_members

        paths = {s.manifest_path}
        avro_list = s.avro_list
        if avro_list is not None:
            from .manifest_avro import member_manifest_paths

            paths.add(avro_list)
            if table.io.exists(os.path.join(table.location, avro_list)):
                paths |= set(member_manifest_paths(table.location, avro_list,
                                                   io=table.io))
            else:
                warnings.warn(f"avro manifest list missing for snapshot "
                              f"{s.snapshot_id}: {avro_list}")
        if s.manifest_path != avro_list:  # not Avro-only: parquet members too
            if table.io.exists(os.path.join(table.location, s.manifest_path)):
                paths |= {m["path"] for m in manifest_members(table.location, s, table.io)}
            else:
                # list already gone (partial earlier expire): members can't be
                # enumerated here — the metadata-dir sweep below reclaims them
                warnings.warn(f"manifest list missing for snapshot "
                              f"{s.snapshot_id}: {s.manifest_path}")
        return paths

    kept_files: set[str] = set()
    kept_manifests: set[str] = set()
    doomed_files: set[str] = set()
    doomed_manifests: set[str] = set()
    for s in md.snapshots:
        if s.snapshot_id in expired:
            doomed_manifests |= _manifest_paths(s)
            doomed_files |= {e.file_path for e in table.manifest_entries(s)}
        else:
            kept_manifests |= _manifest_paths(s)
            kept_files |= {e.file_path for e in table.manifest_entries(s)}
    doomed_files -= kept_files
    doomed_manifests -= kept_manifests

    # A doomed snapshot whose manifest-list file is already gone (e.g. a
    # partially-completed earlier expire) can't enumerate its members via the
    # list, so they'd leak. Sweep metadata/ for manifest-pattern files
    # unreachable from every RETAINED snapshot — after the commit below,
    # retained is exactly the live set, so anything else is garbage.
    meta_dir = os.path.join(table.location, "metadata")
    sweep_before = now_ms() - sweep_grace_ms
    for full in table.io.list(meta_dir):
        fn = os.path.basename(full)
        if not (_MANIFEST_FILE_RE.match(fn)):
            continue
        rel = os.path.join("metadata", fn)
        if rel in kept_manifests or rel in doomed_manifests:
            continue
        try:
            if table.io.mtime(full) * 1000 > sweep_before:
                continue  # possibly an in-flight concurrent commit
        except OSError:
            continue
        doomed_manifests.add(rel)

    # even with nothing to expire, the metadata-dir sweep above still runs:
    # a crashed commit leaves manifests (both dialects) of a snapshot that
    # never landed, and no future expire would otherwise reclaim them
    if expired:
        # refs stay valid: every ref head is in ``keep``
        new_md = without_snapshots(md, expired)
        table.version = table._commit_fn(new_md, table.version)
        table.metadata = new_md
        table._manifest_cache.clear()

    deleted = []
    data_root = data_path(table.metadata.properties)
    for rel in sorted(doomed_files | doomed_manifests):
        if _is_relative(rel):
            # table-tree file: delete through the table's FileIO
            try:
                table.io.delete(os.path.join(table.location, rel))
                deleted.append(rel)
            except OSError:
                pass
        elif data_root is not None and rel.startswith(data_root.rstrip("/") + "/"):
            # engine-written file under write.data.path — ours to reclaim
            from ..io.fileio import for_location

            try:
                for_location(rel).delete(rel)
                deleted.append(rel)
            except OSError:
                pass
        # any other absolute path was registered via add_files — external,
        # not ours to delete
    return deleted


def _is_relative(p: str) -> bool:
    return not (p.startswith("/") or "://" in p or p.startswith("file:"))


def rewrite_data_files(table, *, target_file_size_bytes: int = 128 * 1024 * 1024,
                       min_input_files: int = 2, zorder_by: list[str] | None = None,
                       where=None, binpack: bool = False):
    """Compaction (Iceberg ``rewrite_data_files``): read live data files,
    rewrite them as right-sized files, commit ONE replace snapshot. No-op if
    fewer than ``min_input_files`` candidate files exist. MoR delete files
    are applied during the read, so compaction also collapses them.

    By default every live data file is rewritten (full compaction). At
    100 TB that is not an operation you can run — Iceberg's procedure is
    SELECTIVE, and so is this one:

    - ``where`` (an expression-DSL filter): only files whose stats might
      match are rewritten — compact one partition's worth of small files
      while the rest of the table is untouched metadata;
    - ``binpack=True``: only files outside Iceberg's binpack band
      (< 75% or > 180% of the target size) are rewritten — the steady-state
      "collapse the small files each micro-batch left behind" maintenance
      loop, O(new small files) per run, never O(table).

    Untouched data files carry into the new snapshot verbatim (same paths,
    same sequence numbers — zero data movement). Delete files are kept
    ONLY while something still needs them: a position-delete file whose
    referenced paths were all rewritten away, or an equality-delete file
    that can no longer overlap any untouched file (same bounds test as the
    changelog pruner), is dropped in the same commit — rewritten files get
    a NEW sequence number, so kept eq-deletes never re-suppress their rows.

    ``zorder_by`` clusters the rewrite on a Z-order curve over the given
    (numeric/temporal) columns — Iceberg's zorder rewrite strategy: each
    output file then covers a narrow range in EVERY listed dimension, so
    multi-column filters prune files that a single-column sort cannot."""
    from ..expr import might_match, simplify
    from .incremental import files_that_may_lose_rows
    from .metadata import CONTENT_DATA, CONTENT_POSITION_DELETES, OP_REPLACE
    from .scan import (
        POS_DELETE_FILE_COL,
        _encode_filter,
        _file_key,
        _stats_for_pruning,
        read_files,
        read_tombstones,
        scan_tasks,
    )

    def build_and_commit():
        # rebuilt per retry: a compaction racing a writer must re-read
        # the RELOADED live set, or the concurrent commit's files would be
        # silently dropped from the replacement snapshot
        live = table.live_entries()
        md = table.metadata
        data_files = [e for e in live if e.content == CONTENT_DATA]
        delete_files = [e for e in live if e.content != CONTENT_DATA]
        candidates = data_files
        if where is not None:
            enc = _encode_filter(simplify(where), md.current_schema)
            candidates = [e for e in candidates
                          if might_match(enc, _stats_for_pruning(e, md.current_schema))]
        if binpack:
            lo, hi = 0.75 * target_file_size_bytes, 1.8 * target_file_size_bytes
            candidates = [e for e in candidates
                          if e.file_size < lo or e.file_size > hi]
        if len(candidates) < min_input_files:
            return None
        selective = len(candidates) < len(data_files)
        if selective:
            # candidate rows with their applicable MoR deletes applied —
            # the rewrite materializes those tombstones
            df = read_files(table, scan_tasks(candidates, delete_files),
                            md.current_schema)
        else:
            df = table.to_df()  # scan applies MoR deletes
        summary = {"compacted-input-files": str(len(candidates))}
        if zorder_by:
            # size the z-range partitions from the KNOWN input bytes so the
            # rewrite honors the file-size target (the input partition count
            # would give two output files for two big inputs, whatever the
            # target)
            want = max(2, int(sum(e.file_size for e in candidates)
                              // target_file_size_bytes) + 1)
            dfz = _zorder_cluster(df, zorder_by, n_parts=want)
            summary["zorder-by"] = ",".join(zorder_by)
        else:
            dfz = df
        new_entries = write_data_files(
            table, dfz, target_file_size=target_file_size_bytes,
            keep_order=bool(zorder_by))
        if selective:
            cand_paths = {e.file_path for e in candidates}
            untouched = [e for e in data_files if e.file_path not in cand_paths]
            pos_dels = [e for e in delete_files
                        if e.content == CONTENT_POSITION_DELETES]
            # one job over all position-delete files: the ones that still
            # name a surviving data file are kept, the ones naming only
            # rewritten files are dropped
            keep_pos: set[str] = set()
            if pos_dels and untouched:
                live = [_file_key(table.location, u.file_path) for u in untouched]
                keep_pos = {r[0] for r in read_tombstones(table, pos_dels)
                            .filter(F.col(POS_DELETE_FILE_COL).isin(live))
                            .select("_delete_file").distinct().collect()}
            kept_deletes = [
                e for e in delete_files
                if (_file_key(table.location, e.file_path) in keep_pos
                    if e.content == CONTENT_POSITION_DELETES
                    else bool(files_that_may_lose_rows(
                        md.current_schema, [e], untouched)))
            ]
            new_entries = untouched + kept_deletes + new_entries
        # rows-preserved: this replace reorganizes FILES, not rows — the
        # incremental append scan may skip it (an UPDATE also commits a
        # replace but changes row values, so the skip keys on this marker,
        # never on the operation alone)
        summary["rows-preserved"] = "true"
        return table._commit_snapshot(OP_REPLACE, new_entries, summary_extra=summary)

    return table._retrying(build_and_commit)


def rewrite_position_deletes(table):
    """Compact position-DELETE files (Iceberg ``rewrite_position_delete_
    files`` procedure): every micro-batch MoR delete leaves its own
    small tombstone file, and each one is a separate parquet read + anti-
    join build side on EVERY scan — this rewrites them into few right-sized
    files while touching ZERO data files. In the same pass it drops
    tombstones that no longer do anything: rows referencing data files no
    longer live, rows whose tombstone never applied (delete sequence below
    the data file's), and duplicate (file, pos) pairs from overlapping
    deletes. The rewritten tombstones commit at a NEW sequence number,
    which keeps them applicable to every referenced file (tombstone seq >=
    file seq) and cannot capture later files — file paths are unique, so a
    row of a future data file can never collide with a kept (path, pos).

    Scale shape: cost is O(live tombstone rows) — one read, one
    broadcast join against the (data file -> seq) map, one distinct, one
    write. The table's data is never read."""
    from .metadata import (
        CONTENT_DATA,
        CONTENT_POSITION_DELETES,
        OP_REPLACE,
    )
    from .mutate import _pos_delete_schema, _pos_delete_spec
    from .scan import _file_key, read_tombstones

    def build_and_commit():
        live = table.live_entries()
        data = [e for e in live if e.content == CONTENT_DATA]
        pos = [e for e in live if e.content == CONTENT_POSITION_DELETES]
        other = [e for e in live
                 if e.content not in (CONTENT_DATA, CONTENT_POSITION_DELETES)]
        if not pos:
            return None
        tomb = read_tombstones(table, pos)
        fseq = table.spark.createDataFrame(
            [(_file_key(table.location, e.file_path), e.sequence_number) for e in data],
            "file_path string, _fseq long")
        kept = (tomb.join(F.broadcast(fseq), "file_path")  # drops dangling refs
                .filter(F.col("_dseq") >= F.col("_fseq"))  # drops never-applicable
                .select("file_path", "pos").distinct()     # drops duplicates
                .orderBy("file_path", "pos"))
        new_files = write_data_files(
            table, kept, CONTENT_POSITION_DELETES, _pos_delete_schema(),
            _pos_delete_spec(table.metadata))
        return table._commit_snapshot(
            OP_REPLACE, data + other + new_files,
            summary_extra={"rows-preserved": "true",
                           "rewritten-delete-files": str(len(pos)),
                           "added-delete-files": str(len(new_files))})

    return table._retrying(build_and_commit)


_ZORDER_BITS = 8  # 256 bins per dimension


def _zorder_cluster(df, cols: list[str], n_parts: int | None = None):
    """Range-partition + sort ``df`` by an interleaved-bit Z-value over
    ``cols``. Bins come from one global min/max agg (a single cheap job) +
    ``width_bucket``; bit interleaving is a constant-folded expression, so
    the whole thing is two shuffles (agg + range partition) at any scale.
    ``n_parts`` sets the output range-partition count (callers size it
    from the input bytes / file-size target); default keeps the input's."""
    from pyspark.sql import functions as F

    from ..errors import ValidationError

    nbins = 1 << _ZORDER_BITS

    def _orderable(c):
        """An order-preserving DOUBLE view of the column: numerics and
        temporals cast directly; STRINGS map via their first 6 bytes as a
        big-endian integer (UTF-8 byte order == string order, and 48 bits
        fit a double exactly); a plain cast would turn strings into NULL
        and silently not cluster at all."""
        from pyspark.sql import types as _T

        if isinstance(df.schema[c].dataType, _T.StringType):
            # slice BYTES after encoding (slicing 6 CHARACTERS first would
            # let non-ASCII prefixes reach 24 bytes, whose
            # conv(hex, 16, 10) overflows 64 bits and collapses distinct
            # strings into one bin) — 12 hex digits == 6 bytes <= 48 bits,
            # always exact in a double; '0'-rpad == trailing \x00 bytes
            hx = F.rpad(F.substring(F.hex(F.encode(F.col(c), "UTF-8")),
                                    1, 12), 12, "0")
            return F.conv(hx, 16, 10).cast("double")
        return F.col(c).cast("double")

    for c in cols:
        if c not in df.columns:
            raise ValidationError(f"zorder_by column {c!r} not in table")
    aggs = []
    for c in cols:
        aggs += [F.min(_orderable(c)).alias(f"_mn_{c}"),
                 F.max(_orderable(c)).alias(f"_mx_{c}")]
    row = df.agg(*aggs).collect()[0]

    binned = []
    for c in cols:
        mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
        if mn is None or mx is None or mx == mn:
            binned.append(F.lit(0).cast("long"))
            continue
        b = F.width_bucket(_orderable(c), F.lit(mn), F.lit(mx), F.lit(nbins)) - 1
        binned.append(F.least(F.greatest(F.coalesce(b, F.lit(0)), F.lit(0)),
                              F.lit(nbins - 1)).cast("long"))
    z = F.lit(0).cast("long")
    for bit in range(_ZORDER_BITS):
        for j, b in enumerate(binned):
            z = z + F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                                bit * len(binned) + j)
    n_parts = n_parts or max(2, df.rdd.getNumPartitions())
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_parts, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def remove_orphan_files(table) -> list[str]:
    """Delete files under the data tree not referenced by ANY snapshot
    (aborted-write leftovers). Returns deleted paths in the manifest's
    convention (relative under the table location, absolute under an
    external ``write.data.path`` root)."""
    referenced: set[str] = set()
    for s in table.snapshots():
        referenced |= {e.file_path for e in table.manifest_entries(s)}
    data_root = data_path(table.metadata.properties) or table.location
    data_dir = os.path.join(data_root, "data")
    deleted = []
    from ..io.fileio import for_location

    dio = for_location(data_dir)
    for full in dio.list(data_dir):
        fn = os.path.basename(full)
        if fn.startswith((".", "_")):
            continue  # Hadoop committer artifacts (.crc, _SUCCESS), not data
        key = (os.path.relpath(full, table.location)
               if data_root == table.location else full)
        if key not in referenced:
            try:
                dio.delete(full)
                deleted.append(key)
            except OSError:
                pass
    return sorted(deleted)


# -- metadata tables (Iceberg's tbl.snapshots / tbl.files / tbl.history) -----


def snapshots_df(table) -> DataFrame:
    """The table's snapshots as a DataFrame (Iceberg ``tbl.snapshots``)."""
    schema = T.StructType([
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("committed_at", T.TimestampType()),
        T.StructField("operation", T.StringType()),
        T.StructField("total_records", T.LongType(), True),
        T.StructField("total_data_files", T.LongType(), True),
    ])
    rows = [
        (s.snapshot_id, s.parent_snapshot_id, s.sequence_number,
         dt.datetime.fromtimestamp(s.timestamp_ms / 1000, tz=dt.timezone.utc).replace(tzinfo=None),
         s.operation,
         int(s.summary.get("total-records", 0)), int(s.summary.get("total-data-files", 0)))
        for s in table.snapshots()
    ]
    return table.spark.createDataFrame(rows, schema)


def files_df(table) -> DataFrame:
    """Live data/delete files with stats (Iceberg ``tbl.files``)."""
    schema = T.StructType([
        T.StructField("content", T.IntegerType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("file_format", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_in_bytes", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("partition", T.StringType()),
    ])
    import json as _json

    rows = [
        (e.content, e.file_path, e.file_format, e.record_count, e.file_size,
         e.sequence_number, _json.dumps(e.partition))
        for e in table.live_entries()
    ]
    return table.spark.createDataFrame(rows, schema)


def partitions_df(table) -> DataFrame:
    """Per-partition file/record rollup (Iceberg ``tbl.partitions``): one
    row per live partition tuple with file count, record count, and total
    bytes — the planning input for compaction and skew decisions. Aggregated
    from manifest entries on the driver (entry counts are metadata-scale,
    bounded by file count, not row count)."""
    import json as _json

    schema = T.StructType([
        T.StructField("partition", T.StringType()),
        T.StructField("file_count", T.LongType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("total_size_in_bytes", T.LongType()),
    ])
    agg: dict[str, list[int]] = {}
    for e in table.live_entries():
        if e.content != 0:  # data files only
            continue
        key = _json.dumps(e.partition, sort_keys=True)
        row = agg.setdefault(key, [0, 0, 0])
        row[0] += 1
        row[1] += e.record_count
        row[2] += e.file_size
    rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
    return table.spark.createDataFrame(rows, schema)


def manifests_df(table) -> DataFrame:
    """Manifest files of the current snapshot (Iceberg ``tbl.manifests``):
    path, length, and per-content entry counts."""
    import os as _os

    schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("added_data_files_count", T.LongType()),
        T.StructField("added_delete_files_count", T.LongType()),
        T.StructField("bounds", T.StringType()),  # the manifest list's member bounds
    ])
    snap = table.current_snapshot()
    rows = []
    if snap is not None:
        from .metadata import manifest_members

        members = manifest_members(table.location, snap, table.io)
        if members is None:
            groups = [(snap.manifest_path, table.manifest_entries(snap), None)]
        else:
            groups = [(m["path"], table._member_entries(m["path"]), m["bounds"])
                      for m in members]
        for rel, entries, bounds in groups:
            n_data = sum(1 for e in entries if e.content == 0)
            rows.append((rel, table.io.size(_os.path.join(table.location, rel)),
                         n_data, len(entries) - n_data, bounds))
    return table.spark.createDataFrame(rows, schema)


def refs_df(table) -> DataFrame:
    """Branch/tag refs of the table (Iceberg ``tbl.refs`` metadata table):
    name, type, head snapshot, and the retention knobs expire_snapshots
    honors. MAIN always appears (implicit branch at the current snapshot
    when no explicit ref exists)."""
    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("min_snapshots_to_keep", T.LongType()),
        T.StructField("max_snapshot_age_ms", T.LongType()),
    ])
    md = table.metadata
    rows = [(name, r.type, r.snapshot_id,
             r.min_snapshots_to_keep, r.max_snapshot_age_ms)
            for name, r in sorted(md.refs.items())]
    if MAIN_BRANCH not in md.refs and md.current_snapshot() is not None:
        rows.insert(0, (MAIN_BRANCH, "branch",
                        md.current_snapshot().snapshot_id, None, None))
    return table.spark.createDataFrame(rows, schema)


def history_df(table) -> DataFrame:
    """Snapshot log (Iceberg ``tbl.history``)."""
    schema = T.StructType([
        T.StructField("made_current_at", T.TimestampType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("is_current", T.BooleanType()),
    ])
    cur = table.current_snapshot()
    rows = [
        (dt.datetime.fromtimestamp(e["timestamp-ms"] / 1000, tz=dt.timezone.utc).replace(tzinfo=None),
         e["snapshot-id"], cur is not None and e["snapshot-id"] == cur.snapshot_id)
        for e in table.history()
    ]
    return table.spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Incremental table statistics: per-column NDV sketches (the role Iceberg
# delegates to Puffin theta-sketch blobs + ANALYZE TABLE)
# ---------------------------------------------------------------------------

NDV_STATS_PROP_PREFIX = "stats.kmv-ndv.col."
NDV_STATS_SNAPSHOT_PROP = "stats.kmv-ndv.snapshot-id"
_NDV_HASH_SPACE = float(1 << 60)


def _kmv_estimate(mins: list[int], k: int) -> float:
    """Same estimator as operators.sketch.kmv_distinct: (k-1)/(h_k/2^60)
    when the sketch filled, else the sketch IS the exact distinct count."""
    if len(mins) >= k:
        return round((k - 1) / (mins[k - 1] / _NDV_HASH_SPACE), 2)
    return float(len(mins))


def refresh_ndv_stats(table, columns: list[str], *, k: int = 64) -> dict[str, float]:
    """Refresh per-column DISTINCT-COUNT sketches stored in table
    properties, INCREMENTALLY: the first call scans the table once;
    subsequent calls scan only rows appended since the stamped snapshot
    and merge k-min sets (the KMV property: k smallest of a union == the
    union of sketches' k smallest — so the incremental result is
    bit-identical to a full recompute). A non-append lineage step
    (overwrite/CoW delete — NDV can shrink) falls back to a full
    recompute automatically; rows-preserved maintenance replaces are
    skipped by the incremental scan and cost nothing.

    This is the engine's ANALYZE TABLE: optimizer-grade NDV available
    metadata-only via ``approx_ndv`` — at 100 TB the refresh cost tracks
    the APPEND RATE, not the table size. Sketches use the portable md5
    hash, so external engines (and the DuckDB oracle) reproduce every
    estimate bit-for-bit. Returns {column: estimate}."""
    import json as _json

    from ..operators.dedup import portable_hash60
    from .incremental import incremental_append_scan

    cur = table.current_snapshot()
    if cur is None:
        raise ValidationError("refresh_ndv_stats: table has no snapshot")
    for c in columns:
        if table.schema.find_field(c) is None:
            raise ValidationError(f"refresh_ndv_stats: column {c!r} not in schema")
    props = table.metadata.properties
    stamped = props.get(NDV_STATS_SNAPSHOT_PROP)
    old: dict[str, list[int]] = {}
    if stamped is not None:
        for c in columns:
            raw = props.get(NDV_STATS_PROP_PREFIX + c)
            if raw is None:
                stamped = None  # a new column joined the stat set: full pass
                break
            doc = _json.loads(raw)
            if doc.get("k") != k:
                stamped = None  # sketch parameter changed: full pass
                break
            old[c] = doc["mins"]
    if stamped is not None and int(stamped) == cur.snapshot_id:
        return {c: _kmv_estimate(old[c], k) for c in columns}
    if stamped is not None:
        try:
            delta = incremental_append_scan(table, int(stamped), cur.snapshot_id)
        except ValidationError:
            stamped = None  # overwrite/delete in range: NDV may shrink
    if stamped is None:
        delta, old = table.to_df(), {}
    if len(columns) > 1:
        delta = delta.persist()
    try:
        new_props: dict[str, str] = {NDV_STATS_SNAPSHOT_PROP: str(cur.snapshot_id)}
        out: dict[str, float] = {}
        for c in columns:
            mins = [
                r["_h"]
                for r in (delta.filter(F.col(c).isNotNull())
                          .select(portable_hash60(F.col(c).cast("string")).alias("_h"))
                          .distinct().orderBy("_h").limit(k).collect())
            ]
            merged = sorted(set(old.get(c, [])) | set(mins))[:k]
            new_props[NDV_STATS_PROP_PREFIX + c] = _json.dumps({"k": k, "mins": merged})
            out[c] = _kmv_estimate(merged, k)
        table.set_properties(new_props)
        return out
    finally:
        if len(columns) > 1:
            delta.unpersist()


def approx_ndv(table, column: str) -> tuple[float, bool]:
    """(estimate, fresh) from the stored sketch — NO data scan. ``fresh``
    is False when commits landed after the stamped snapshot (the estimate
    still reflects the stamped state; call ``refresh_ndv_stats`` to catch
    up incrementally). Raises if the column was never analyzed."""
    import json as _json

    raw = table.metadata.properties.get(NDV_STATS_PROP_PREFIX + column)
    if raw is None:
        raise ValidationError(
            f"no NDV sketch for {column!r}: run refresh_ndv_stats first")
    doc = _json.loads(raw)
    stamped = table.metadata.properties.get(NDV_STATS_SNAPSHOT_PROP)
    cur = table.current_snapshot()
    fresh = (stamped is not None and cur is not None
             and int(stamped) == cur.snapshot_id)
    return _kmv_estimate(doc["mins"], doc["k"]), fresh

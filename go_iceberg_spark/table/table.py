"""Table facade: scans, snapshots, appends, overwrites, schema evolution.

Re-expresses the reference's ``Table`` (reference: table/table.go:17-23 wrapper;
:83-121 snapshot accessors; :134-141 refresh; :154-254 transactions+commit;
:186-202 properties + schema evolution; :506-508 history) on the filesystem
metadata layer in ``metadata.py``. Mutations (delete/update/upsert) live in
``mutate.py``; the scan builder in ``scan.py``.

Commit model: every operation builds the next ``TableMetadata`` and commits it
optimistically (exclusive-create of v{N+1}); on conflict, commutable ops
(appends) reload + retry up to ``max_retries`` — the retry loop the reference
declares config for but never wires up (reference: config.go:93-94 vs
table/table.go:233-254).
"""

from __future__ import annotations

import datetime as dt
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..errors import CommitConflictError, ValidationError
from ..expr import ALWAYS_TRUE, Expression
from ..schema import (
    IcebergType,
    NestedField,
    Schema,
    StructType,
    to_spark_type,
)
from .metadata import (
    CONTENT_DATA,
    MAIN_BRANCH,
    MANIFEST_LIST_SUFFIX,
    OP_APPEND,
    OP_OVERWRITE,
    OP_REPLACE,
    DataFileEntry,
    PartitionSpec,
    Snapshot,
    SnapshotRef,
    SortOrder,
    TableMetadata,
    ancestors,
    commit_metadata,
    load_metadata,
    manifest_members,
    new_snapshot_id,
    now_ms,
    read_manifest,
    snapshot_delta,
    write_manifest,
    write_manifest_list,
)
from .scan import ScanBuilder
from .write import write_data_files

import os

# Sentinel value in ``properties_extra``: replaced by the committing
# snapshot's sequence number inside _commit_snapshot (a conflict retry
# re-sequences, so callers cannot know it up front).
COMMIT_SEQ_PLACEHOLDER = "__commit-seq__"


class Table:
    """A loaded table: identifier + metadata + spark session
    (reference: table/table.go:17-23)."""

    def __init__(self, spark: SparkSession, identifier: tuple[str, ...], location: str,
                 metadata: TableMetadata, version: int, max_retries: int = 3, retry_backoff_ms: int = 100,
                 committer=None, loader=None, io=None):
        from ..io.fileio import for_location

        self.spark = spark
        self.identifier = identifier
        self.location = location
        self.metadata = metadata
        self.version = version
        self.max_retries = max_retries
        self.retry_backoff_ms = retry_backoff_ms
        self._manifest_cache: dict[str, list[DataFileEntry]] = {}
        # storage routing: all METADATA I/O (metadata JSON, manifests of
        # both dialects, commits) goes through this FileIO, picked from the
        # location scheme: a local table publishes each file by temp file
        # and link or rename, an s3:// table by (conditional) PUT
        self.io = io or for_location(location)
        # pluggable metadata pointer I/O: FileIO-routed by default; a
        # catalog service (catalog/rest.py) swaps these so the COMMIT runs
        # server-side while data/manifest files stay on shared storage
        # (reference: catalog/rest.go:425-445 CommitTable)
        self._commit_fn = committer or (lambda md, v: commit_metadata(self.location, md, v, io=self.io))
        self._load_fn = loader or (lambda: load_metadata(self.location, io=self.io))

    # -- loading ----------------------------------------------------------
    def refresh(self) -> "Table":
        """Reload metadata (reference: table/table.go:134-141)."""
        self.metadata, self.version = self._load_fn()
        self._manifest_cache.clear()
        return self

    # -- snapshot accessors (reference: table/table.go:83-121, :506-508) ---
    @property
    def schema(self) -> Schema:
        return self.metadata.current_schema

    def spark_schema(self):
        return to_spark_type(self.schema.struct)

    def current_snapshot(self) -> Snapshot | None:
        return self.metadata.current_snapshot()

    def snapshots(self) -> list[Snapshot]:
        return list(self.metadata.snapshots)

    def snapshot_by_id(self, sid: int) -> Snapshot:
        return self.metadata.snapshot_by_id(sid)

    def snapshot_at(self, ts: dt.datetime | int) -> Snapshot:
        if isinstance(ts, dt.datetime):
            ts = int(ts.timestamp() * 1000)
        return self.metadata.snapshot_at(ts)

    def history(self) -> list[dict]:
        return list(self.metadata.snapshot_log)

    def manifest_entries(self, snap: Snapshot) -> list[DataFileEntry]:
        path = os.path.join(self.location, snap.manifest_path)
        if path not in self._manifest_cache:
            members = manifest_members(self.location, snap, self.io)
            if members is None:
                # Iceberg wire format: manifest LIST -> manifests -> entries
                from .manifest_avro import read_avro_manifest_tree

                self._manifest_cache[path] = read_avro_manifest_tree(self.location, snap.manifest_path, io=self.io)
            else:
                self._manifest_cache[path] = [
                    e for m in members for e in self._member_entries(m["path"])]
        return self._manifest_cache[path]

    def _member_entries(self, rel: str) -> list[DataFileEntry]:
        """Entries of one parquet member manifest. Members are immutable, so
        they cache individually and survive across commits that reuse them."""
        mpath = os.path.join(self.location, rel)
        if mpath not in self._manifest_cache:
            self._manifest_cache[mpath] = read_manifest(mpath, self.io)
        return self._manifest_cache[mpath]

    def live_entries(self) -> list[DataFileEntry]:
        snap = self.current_snapshot()
        return self.manifest_entries(snap) if snap else []

    # -- scan --------------------------------------------------------------
    def scan(self) -> ScanBuilder:
        """Reference: Table.Scan() (table/table.go:144-146)."""
        return ScanBuilder(self)

    def to_df(self) -> DataFrame:
        return self.scan().to_df()

    # -- commit machinery --------------------------------------------------
    def _next_sequence(self) -> int:
        return self.metadata.last_sequence_number + 1

    def _commit_snapshot(self, operation: str, entries: list[DataFileEntry],
                         summary_extra: dict[str, str] | None = None,
                         schema_override: Schema | None = None,
                         ref: str = MAIN_BRANCH,
                         compact_manifests: bool = False,
                         properties_extra: dict[str, str] | None = None,
                         manifest_groups: list[list[DataFileEntry]] | None = None) -> Snapshot:
        """Write manifests + new metadata version. ``entries`` is the FULL
        live file set of the new snapshot; ``_write_manifest_tree`` reuses
        the parent's unchanged members. Every entry not live in the parent
        (the ref head) is a file this commit adds and gets this commit's
        sequence number, which MoR delete applicability keys off; a conflict
        retry re-sequences, so no caller can stamp it up front.
        ``ref`` targets a branch: only that ref moves; main (and the table's
        read view) is untouched until a fast_forward publishes it.
        ``properties_extra`` merges into table properties IN THE SAME
        metadata commit — atomic with the snapshot (the streaming sink's
        expiry-proof batch high-water mark rides here)."""
        from dataclasses import replace as _rpl

        md = self.metadata
        if ref == MAIN_BRANCH or ref not in md.refs:
            parent = md.current_snapshot()
        else:
            parent = md.snapshot_by_id(md.refs[ref].snapshot_id)
        seq = self._next_sequence()
        sid = new_snapshot_id()
        prev = {e.file_path for e in (self.manifest_entries(parent) if parent else [])}

        def stamped(es: list[DataFileEntry]) -> list[DataFileEntry]:
            return [e if e.sequence_number == seq or e.file_path in prev
                    else _rpl(e, sequence_number=seq) for e in es]

        entries = stamped(entries)
        if manifest_groups is not None:
            manifest_groups = [stamped(g) for g in manifest_groups]
        # manifest-format: dual (default) = parquet members for the engine's
        # scan/planning tiers PLUS the Iceberg-spec Avro tree for external
        # readers (both written incrementally, O(changed+added) per commit);
        # avro = Iceberg wire format only; parquet = engine dialect only.
        fmt = md.properties.get("manifest-format", "dual")
        avro_rel = None
        if fmt in ("avro", "dual"):
            from .manifest_avro import write_avro_manifest_tree

            avro_rel = write_avro_manifest_tree(
                self.location, "metadata", entries,
                snapshot_id=sid, sequence_number=seq,
                spec=md.default_spec,
                schemas_by_id={s.schema_id: s for s in md.schemas},
                specs_by_id={p.spec_id: p for p in md.partition_specs},
                parent_list_rel=parent.avro_list if parent is not None else None,
                io=self.io,
            )
        members_out: list[dict] | None = None
        if fmt == "avro":
            manifest_rel = avro_rel
        else:
            manifest_rel, members_out = self._write_manifest_tree(
                parent, entries, sid,
                force_compact=compact_manifests,
                groups=manifest_groups)

        cur = {e.file_path for e in entries}
        data_entries = [e for e in entries if e.content == CONTENT_DATA]
        summary = {
            "added-data-files": str(len([e for e in data_entries if e.file_path not in prev])),
            "removed-data-files": str(len([p for p in prev if p not in cur])),
            "total-data-files": str(len(data_entries)),
            "total-records": str(sum(e.record_count for e in data_entries)),
            "total-delete-files": str(len(entries) - len(data_entries)),
            **(summary_extra or {}),
        }
        # snapshot-wide column bounds: the manifest-list-level summary that
        # lets scans skip the manifest read when the filter is out of range
        # (planning.py; reference keeps per-manifest partition summaries,
        # spec/manifest.go:152-205). Merged from the per-member bounds the
        # tree write just computed, which saves a second O(live entries)
        # driver pass per commit; the avro-only format (no member dicts)
        # aggregates the entries directly.
        from .planning import merge_summary_bounds, summary_bounds

        if members_out is not None:
            summary["bounds"] = merge_summary_bounds(
                [m["bounds"] for m in members_out])
        else:
            summary["bounds"] = summary_bounds(entries)
        snap = Snapshot(
            snapshot_id=sid,
            parent_snapshot_id=parent.snapshot_id if parent else None,
            sequence_number=seq,
            timestamp_ms=now_ms(),
            operation=operation,
            manifest_path=manifest_rel,
            schema_id=(schema_override or md.current_schema).schema_id,
            summary=summary,
            avro_manifest_path=avro_rel,
        )
        new_md = md.with_snapshot(snap, ref=ref)
        if properties_extra:
            # COMMIT_SEQ_PLACEHOLDER values resolve to THIS commit's sequence
            # number — callers (the streaming sink's high-water-seq mark)
            # can't know it up front because a conflict retry re-sequences
            props = {k: (str(seq) if v == COMMIT_SEQ_PLACEHOLDER else v)
                     for k, v in properties_extra.items()}
            new_md = _rpl(new_md,
                          properties={**new_md.properties, **props})
        self.version = self._commit_fn(new_md, self.version)
        self.metadata = new_md
        return snap

    # append commits stay O(added files); compaction bounds list length so
    # planning never walks an unbounded member chain
    MANIFEST_COMPACT_THRESHOLD = 32

    def _member_dict(self, rel: str, mentries: list[DataFileEntry]) -> dict:
        """Manifest-list member record: path, entry count, delete-entry
        count, and aggregate column bounds — the Iceberg manifest-list
        partition-summary analogue (spec/manifest.go:152-205) that lets
        scans SKIP reading a member whose bounds contradict the filter."""
        from .planning import summary_bounds

        return {"path": rel, "n": len(mentries),
                "nd": sum(1 for e in mentries if e.content != CONTENT_DATA),
                "bounds": summary_bounds(mentries)}

    def _write_manifest_tree(self, parent: Snapshot | None,
                             entries: list[DataFileEntry], sid: int,
                             force_compact: bool = False,
                             groups: list[list[DataFileEntry]] | None = None,
                             ) -> tuple[str, list[dict]]:
        """Write the snapshot's manifests incrementally: parent members whose
        entries all survive are REUSED (no I/O), partially-surviving members
        are rewritten filtered, and added files land in one new member —
        metadata write cost is O(changed + added), not O(live files). Entries
        are identified by file path (data files are immutable; every rewrite
        produces new paths). When the member list exceeds
        MANIFEST_COMPACT_THRESHOLD the tree is compacted into one manifest.
        ``groups`` (rewrite_manifests) bypasses reuse and writes exactly one
        fresh member per group — the caller owns the clustering."""
        if groups is not None:
            members = []
            for gi, grp in enumerate(groups):
                rel = os.path.join("metadata", f"m-{sid}-g{gi}.parquet")
                write_manifest(os.path.join(self.location, rel), grp, self.io)
                self._manifest_cache[os.path.join(self.location, rel)] = list(grp)
                members.append(self._member_dict(rel, grp))
            manifest_rel = os.path.join("metadata", f"snap-{sid}{MANIFEST_LIST_SUFFIX}")
            write_manifest_list(os.path.join(self.location, manifest_rel), members, self.io)
            return manifest_rel, members
        cur_by_path = {e.file_path: e for e in entries}
        members: list[dict] = []
        covered: set[str] = set()
        part = 0
        # an Avro-only parent (manifest-format flipped) has no parquet
        # members: its whole live set lands in the added member below
        parent_members = manifest_members(self.location, parent, self.io) if parent else None
        for pm in parent_members or ():
            mentries = self._member_entries(pm["path"])
            surv = [e for e in mentries if e.file_path in cur_by_path]
            if not surv:
                continue
            if len(surv) == len(mentries):
                members.append(pm)  # reused unchanged, bounds included
            else:
                rel = os.path.join("metadata", f"m-{sid}-{part}.parquet")
                part += 1
                write_manifest(os.path.join(self.location, rel), surv, self.io)
                self._manifest_cache[os.path.join(self.location, rel)] = surv
                members.append(self._member_dict(rel, surv))
            covered.update(e.file_path for e in surv)
        added = [e for e in entries if e.file_path not in covered]
        if added or not members:
            rel = os.path.join("metadata", f"m-{sid}-add.parquet")
            write_manifest(os.path.join(self.location, rel), added, self.io)
            self._manifest_cache[os.path.join(self.location, rel)] = added
            members.append(self._member_dict(rel, added))

        if force_compact or len(members) > self.MANIFEST_COMPACT_THRESHOLD:
            rel = os.path.join("metadata", f"m-{sid}-compact.parquet")
            write_manifest(os.path.join(self.location, rel), entries, self.io)
            self._manifest_cache[os.path.join(self.location, rel)] = list(entries)
            members = [self._member_dict(rel, entries)]

        manifest_rel = os.path.join("metadata", f"snap-{sid}{MANIFEST_LIST_SUFFIX}")
        write_manifest_list(os.path.join(self.location, manifest_rel), members, self.io)
        return manifest_rel, members

    def _retrying(self, build_and_commit) -> Snapshot:
        """Optimistic retry for commutable commits (reference: config.go:93-94
        retry knobs, errors.go:115-123 retryability)."""
        attempt = 0
        while True:
            try:
                return build_and_commit()
            except CommitConflictError:
                attempt += 1
                if attempt > self.max_retries:
                    raise
                time.sleep(self.retry_backoff_ms / 1000.0 * attempt)
                self.refresh()

    # -- writes ------------------------------------------------------------
    def append(self, df: DataFrame, summary_extra: dict[str, str] | None = None,
               properties_extra: dict[str, str] | None = None,
               pre_commit_check=None) -> Snapshot | None:
        """Append rows (reference: table/insert.go:49-109 Insert/Append).
        Data files are written once; only the metadata commit retries.
        ``summary_extra`` lands in the snapshot summary atomically with the
        commit (the streaming sink's exactly-once batch marker);
        ``properties_extra`` merges into table properties in the same
        commit (the sink's expiry-proof batch high-water mark).
        ``pre_commit_check`` (optional ``() -> bool``) re-runs inside every
        commit attempt — including conflict retries, AFTER metadata reload —
        and a False abandons the append, returning None (the streaming
        sink's check-then-act fix: two writers racing the same replayed
        batch must not both apply it; the loser's retry sees the winner's
        marker in the reloaded state and backs off)."""
        new_files = write_data_files(self, df)

        def commit():
            if pre_commit_check is not None and not pre_commit_check():
                return None
            return self._commit_snapshot(OP_APPEND, self.live_entries() + new_files,
                                         summary_extra=summary_extra,
                                         properties_extra=properties_extra)

        return self._retrying(commit)

    insert = append  # reference: table/insert.go:163-170 alias

    def add_files(self, paths: list[str]) -> Snapshot:
        """Zero-copy import of existing parquet files (Iceberg ``add_files``
        procedure; the reference has no equivalent): one metadata commit
        registers the files with footer-harvested stats — no data rewrite.
        Files stay where they are; expiry will not delete them. Importing
        into a PARTITIONED table requires each file's path to carry
        Hive-style ``name=value`` segments for every partition field (and,
        as with all imports, the data files must contain every table
        column) — an import that cannot prove its partition values is
        rejected rather than registered with null tuples."""
        from .write import register_data_files

        md = self.metadata
        live = {e.file_path for e in self.live_entries()}
        dup = [p for p in (os.path.abspath(q) for q in paths) if p in live]
        if dup:
            raise ValidationError(
                f"add_files: {len(dup)} file(s) already registered, e.g. {dup[0]!r} "
                "(re-importing a live path would alias one file under two entries)"
            )
        new_files = register_data_files(
            self.spark, paths, md.current_schema, md.current_schema_id,
            self._next_sequence(), spec=md.default_spec,
        )

        def commit():
            return self._commit_snapshot(OP_APPEND, self.live_entries() + new_files)

        return self._retrying(commit)

    def overwrite(self, df: DataFrame, filter: Expression | None = None) -> Snapshot:
        """Full or selective overwrite (reference: table/insert.go:173-252).

        Selective mode must delete every row matching the filter: files whose
        stats *might* match are rewritten (keep only non-matching rows) via
        the CoW machinery, then the new data is appended — spec-correct, not
        the reference's file-drop approximation (its deleteMatchingFiles drops
        whole files whose stats match, deleting non-matching rows with them,
        reference: table/insert.go:216-252)."""
        if filter is None or filter is ALWAYS_TRUE:
            # full overwrite: the replacement files don't depend on table
            # state, so write once and only retry the metadata commit
            new_files = write_data_files(self, df)
            return self._retrying(
                lambda: self._commit_snapshot(OP_OVERWRITE, new_files))

        from .mutate import _rebind_filter

        entry_schema = self.metadata.current_schema
        _rebind_filter(entry_schema, entry_schema, filter, "overwrite filter")

        def build_and_commit():
            # selective overwrite races like any mutation: the CoW rewrite
            # recomputes against reloaded metadata on each retry; the
            # filter AND the replacement rows (authored against the entry
            # schema) re-bind by field id so a concurrent rename follows
            from .mutate import _rebind_to_current, rewrite_for_delete

            cur = self.metadata.current_schema
            flt = _rebind_filter(entry_schema, cur, filter, "overwrite filter")
            col_map = _rebind_to_current(
                entry_schema, cur,
                [c for c in df.columns if entry_schema.find_field(c) is not None],
                "overwrite")
            new_df = df
            for old, new in col_map.items():
                new_df = new_df.withColumnRenamed(old, new)
            surviving = rewrite_for_delete(self, flt)
            new_files = write_data_files(self, new_df)
            return self._commit_snapshot(OP_OVERWRITE, surviving + new_files)

        return self._retrying(build_and_commit)

    # -- mutations (delegates; reference: table/delete.go, table/update.go) -
    def delete(self, filter: Expression, mode: str = "copy-on-write") -> Snapshot:
        from .mutate import delete as _delete

        return _delete(self, filter, mode)

    def update(self, filter: Expression, assignments: dict[str, Any]) -> Snapshot:
        from .mutate import update as _update

        return _update(self, filter, assignments)

    def upsert(self, df: DataFrame, key_columns: list[str] | None = None,
               summary_extra: dict[str, str] | None = None,
               properties_extra: dict[str, str] | None = None,
               pre_commit_check=None) -> Snapshot | None:
        """MERGE on ``key_columns``; when omitted, the schema's
        identifier fields (reference: spec/schema.go:25-31
        identifier-field-ids) are the merge key."""
        from .mutate import upsert as _upsert

        if key_columns is None:
            schema = self.metadata.current_schema
            key_columns = [
                f.name for fid in schema.identifier_field_ids
                if (f := schema.find_field_by_id(fid)) is not None
            ]
            if not key_columns:
                raise ValidationError(
                    "upsert without key_columns requires schema identifier fields")
        return _upsert(self, df, key_columns, summary_extra=summary_extra,
                       properties_extra=properties_extra,
                       pre_commit_check=pre_commit_check)

    def merge(self, source: DataFrame, on: list[str], *,
              when_matched_update: dict[str, Any] | str | None = "*",
              when_not_matched_insert: bool = True,
              when_matched_delete: "bool | Column" = False,
              when_not_matched_by_source_delete: "bool | Column" = False,
              when_not_matched_by_source_update: dict[str, Any] | None = None,
              summary_extra: dict[str, str] | None = None,
              properties_extra: dict[str, str] | None = None,
              pre_commit_check=None) -> Snapshot:
        from .mutate import merge as _merge

        return _merge(self, source, on, when_matched_update=when_matched_update,
                      when_not_matched_insert=when_not_matched_insert,
                      when_matched_delete=when_matched_delete,
                      when_not_matched_by_source_delete=when_not_matched_by_source_delete,
                      when_not_matched_by_source_update=when_not_matched_by_source_update,
                      summary_extra=summary_extra,
                      properties_extra=properties_extra,
                      pre_commit_check=pre_commit_check)

    def scd2_apply(self, updates: DataFrame, key_cols: list[str], *,
                   seq_col: str, attr_cols: list[str] | None = None,
                   start_col: str = "valid_from_seq",
                   end_col: str = "valid_to_seq",
                   current_col: str = "is_current",
                   drop_unchanged: bool = False) -> Snapshot:
        """Slowly-Changing-Dimension type 2 maintenance — see mutate.scd2_apply."""
        from .mutate import scd2_apply as _scd2

        return _scd2(self, updates, key_cols, seq_col=seq_col,
                     attr_cols=attr_cols, start_col=start_col,
                     end_col=end_col, current_col=current_col,
                     drop_unchanged=drop_unchanged)

    # -- properties & schema evolution ------------------------------------
    def set_properties(self, props: dict[str, str]) -> None:
        """Reference: table/table.go:186-195."""
        from dataclasses import replace

        md = replace(self.metadata, properties={**self.metadata.properties, **props}, last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def update_partition_spec(self, *fields: str | tuple[str, str]) -> None:
        """Partition evolution (ALTER TABLE ... REPLACE PARTITION FIELD):
        commit a NEW default partition spec; existing data files keep their
        original spec (each manifest entry records its spec_id and partition
        tuple), only future writes lay out by the new one. Scans stay
        correct across the boundary because pruning is per-entry stats- and
        partition-value-based, never global-layout-based. Each field is a
        column name (identity) or ``(name, transform)`` with transform ∈
        identity | year | month | day | hour | bucket[N] | truncate[W]."""
        from dataclasses import replace

        from .metadata import PartitionField, PartitionSpec

        used = [f.field_id for s in self.metadata.partition_specs for f in s.fields]
        next_fid = max(used, default=999) + 1
        pfs = []
        for spec_field in fields:
            name, transform = (spec_field, "identity") if isinstance(spec_field, str) else spec_field
            src = self.metadata.current_schema.find_field(name)
            if src is None:
                raise ValidationError(f"partition source column {name!r} not in schema")
            pname = name if transform == "identity" else f"{name}_{transform.split('[')[0]}"
            pfs.append(PartitionField(src.field_id, next_fid, transform, pname))
            next_fid += 1
        spec_id = max(s.spec_id for s in self.metadata.partition_specs) + 1
        spec = PartitionSpec(spec_id, tuple(pfs))
        from .metadata import validate_partition_spec
        validate_partition_spec(self.metadata.current_schema, spec)
        md = replace(self.metadata,
                     partition_specs=(*self.metadata.partition_specs, spec),
                     default_spec_id=spec_id,
                     last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def replace_sort_order(self, *columns: str | tuple[str, str]) -> None:
        """ALTER TABLE ... WRITE ORDERED BY: set the default sort order that
        every subsequent write honors via sortWithinPartitions (clustering
        within each task, no global shuffle — tightens per-file min/max
        bounds so point/range scans prune more files). Each column is a name
        or ``(name, "asc"|"desc")``. The reference stores sort orders but
        never executes them (SURVEY §2.5); here they steer the writer."""
        from dataclasses import replace

        from .metadata import SortField, SortOrder

        fields = []
        for c in columns:
            name, direction = (c, "asc") if isinstance(c, str) else c
            f = self.metadata.current_schema.find_field(name)
            if f is None:
                raise ValidationError(f"sort column {name!r} not in schema")
            if direction not in ("asc", "desc"):
                raise ValidationError(f"sort direction {direction!r} must be asc|desc")
            fields.append(SortField(
                f.field_id, "identity", direction,
                "nulls-first" if direction == "asc" else "nulls-last"))
        order_id = max((s.order_id for s in self.metadata.sort_orders), default=0) + 1
        order = SortOrder(order_id, tuple(fields))
        md = replace(self.metadata,
                     sort_orders=(*self.metadata.sort_orders, order),
                     default_sort_order_id=order_id,
                     last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def remove_properties(self, keys: list[str]) -> None:
        from dataclasses import replace

        props = {k: v for k, v in self.metadata.properties.items() if k not in keys}
        md = replace(self.metadata, properties=props, last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def update_schema(self) -> "SchemaUpdate":
        """Fluent schema evolution (reference: table/table.go:198-202,
        spec/metadata.go:308-333): appends a new schema and moves
        current-schema-id; field ids are never reused."""
        return SchemaUpdate(self)

    # -- branching / tags ---------------------------------------------------
    def create_branch(self, name: str, snapshot_id: int | None = None, *,
                      min_snapshots_to_keep: int | None = None,
                      max_snapshot_age_ms: int | None = None) -> None:
        """Create a branch ref at the given (default: current) snapshot —
        the staging half of write-audit-publish. The retention knobs follow
        Iceberg branch retention (honored by ``expire_snapshots``): keep at
        least that many of the branch's latest ancestors / ancestors younger
        than the age window."""
        from dataclasses import replace

        if snapshot_id is None:
            cur = self.metadata.current_snapshot()
            if cur is None:
                raise ValidationError("cannot branch an empty table")
            snapshot_id = cur.snapshot_id
        else:
            self.metadata.snapshot_by_id(snapshot_id)  # validate
        refs = dict(self.metadata.refs)
        refs[name] = SnapshotRef(snapshot_id, "branch",
                                 min_snapshots_to_keep=min_snapshots_to_keep,
                                 max_snapshot_age_ms=max_snapshot_age_ms)
        md = replace(self.metadata, refs=refs, last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def remove_ref(self, name: str) -> None:
        """Drop a branch or tag ref (Iceberg DROP BRANCH / DROP TAG).
        ``main`` is protected. The ref's exclusive snapshots survive until
        the next ``expire_snapshots`` — removing an abandoned audit branch
        is what LETS expiry reclaim its staged files (refs retain their
        heads, so a forgotten branch otherwise pins data forever)."""
        from dataclasses import replace

        if name == MAIN_BRANCH:
            raise ValidationError("cannot remove the main branch")
        if name not in self.metadata.refs:
            raise ValidationError(f"ref {name!r} does not exist")
        refs = dict(self.metadata.refs)
        del refs[name]
        md = replace(self.metadata, refs=refs, last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def append_to_branch(self, name: str, df: DataFrame) -> Snapshot:
        """Append onto a branch: the write stacks on the BRANCH head and only
        the branch ref moves — main readers never see it until
        ``fast_forward`` publishes (write-audit-publish staging)."""
        if name not in self.metadata.refs:
            raise ValidationError(f"branch {name!r} does not exist")
        new_files = write_data_files(self, df)

        def commit():
            ref = self.metadata.refs.get(name)
            if ref is None:
                raise ValidationError(f"branch {name!r} disappeared")
            base = self.manifest_entries(self.metadata.snapshot_by_id(ref.snapshot_id))
            return self._commit_snapshot(OP_APPEND, base + new_files, ref=name)

        return self._retrying(commit)

    def fast_forward(self, to_ref: str, from_ref: str) -> None:
        """Publish: point ``to_ref`` at ``from_ref``'s head. Fast-forward
        only — ``to_ref``'s current head must be an ancestor of the new head
        (diverged refs need a rebase/merge, which this engine does not fake)."""
        from dataclasses import replace

        md = self.metadata
        if from_ref not in md.refs:
            raise ValidationError(f"ref {from_ref!r} does not exist")
        new_head = md.refs[from_ref].snapshot_id
        old = md.refs.get(to_ref)
        if old is not None and all(s.snapshot_id != old.snapshot_id
                                   for s in ancestors(md, new_head)):
            raise ValidationError(
                f"{to_ref!r} is not an ancestor of {from_ref!r} — not a fast-forward")
        refs = dict(md.refs)
        refs[to_ref] = SnapshotRef(new_head, "branch")
        new_md = replace(md, refs=refs, last_updated_ms=now_ms())
        if to_ref == MAIN_BRANCH:
            new_md = replace(
                new_md, current_snapshot_id=new_head,
                snapshot_log=new_md.snapshot_log
                + ({"timestamp-ms": now_ms(), "snapshot-id": new_head},),
            )
        self.version = self._commit_fn(new_md, self.version)
        self.metadata = new_md

    def cherrypick(self, snapshot_id: int) -> Snapshot:
        """Apply ONE snapshot's changes onto the current head as a NEW
        commit (Iceberg's ``cherrypick_snapshot`` procedure) — the WAP
        flavor ``fast_forward`` cannot express: publish a single audited
        commit from a branch whose other commits stay unpublished.
        Append-only, matching Iceberg's own restriction: a delete/
        overwrite/replace changes rows relative to ITS parent, and
        replaying it on a diverged head would silently affect different
        rows. The picked snapshot's ADDED files are re-registered under
        the new commit's sequence number (metadata-only — no data is
        rewritten or copied); the pick fails if any of them are already
        live on this branch (double-pick), and conflict retries re-check
        against the reloaded live set."""
        snap = self.snapshot_by_id(snapshot_id)
        if snap.operation != OP_APPEND:
            raise ValidationError(
                f"cherrypick supports append snapshots only; "
                f"{snapshot_id} is {snap.operation!r}")
        if snap.summary.get("parent-rewired"):
            # expiry re-parented this snapshot across a removal gap:
            # its entries-minus-parent diff now includes everything the
            # expired gap added, so "what this commit added" is lost —
            # picking would silently re-register gap files (row duplication)
            raise ValidationError(
                f"cherrypick: snapshot {snapshot_id}'s original parent was "
                "expired and its lineage rewired; the snapshot's own added "
                "files can no longer be determined — re-stage the change")
        added, _ = snapshot_delta(self.metadata, snap, self.manifest_entries)

        def commit():
            live = self.live_entries()
            live_paths = {e.file_path for e in live}
            dup = [e.file_path for e in added if e.file_path in live_paths]
            if dup:
                raise ValidationError(
                    f"cherrypick: {len(dup)} picked file(s) already live on "
                    f"this branch, e.g. {dup[0]!r} (double-pick)")
            # the path check goes blind once a compaction/delete REWRITES
            # the picked files, so also scan the retained main ancestry's
            # summaries for a prior pick of this snapshot (re-picking then
            # would silently duplicate rows). Retention-bounded like
            # Iceberg's wap.id dedup: an expired marker can't be checked.
            md = self.metadata
            for s in ancestors(md, md.current_snapshot_id):
                if s.summary.get("cherry-picked-from") == str(snapshot_id):
                    raise ValidationError(
                        f"cherrypick: snapshot {snapshot_id} was already "
                        f"picked onto this branch (commit {s.snapshot_id}) "
                        "(double-pick)")
            return self._commit_snapshot(
                OP_APPEND, live + added,
                summary_extra={"cherry-picked-from": str(snapshot_id)})

        return self._retrying(commit)

    def create_tag(self, name: str, snapshot_id: int) -> None:
        from dataclasses import replace

        refs = dict(self.metadata.refs)
        refs[name] = SnapshotRef(snapshot_id, "tag")
        md = replace(self.metadata, refs=refs, last_updated_ms=now_ms())
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    def rollback_to(self, snapshot_id: int) -> None:
        """Point main back at an older snapshot (superset of reference)."""
        from dataclasses import replace

        from ..streaming.stream import rebased_stream_high_water

        snap = self.metadata.snapshot_by_id(snapshot_id)
        refs = dict(self.metadata.refs)
        refs[MAIN_BRANCH] = SnapshotRef(snap.snapshot_id, "branch")
        md = replace(
            self.metadata, current_snapshot_id=snap.snapshot_id, refs=refs,
            # streaming exactly-once marks rebase: batches abandoned by this
            # rollback may legitimately replay; applied/expired ones may not
            properties=rebased_stream_high_water(self.metadata, snap.snapshot_id),
            snapshot_log=self.metadata.snapshot_log + ({"timestamp-ms": now_ms(), "snapshot-id": snap.snapshot_id},),
            last_updated_ms=now_ms(),
        )
        self.version = self._commit_fn(md, self.version)
        self.metadata = md

    # -- maintenance (Iceberg procedure equivalents; table/maintenance.py) --
    def expire_snapshots(self, **kwargs) -> list[str]:
        from .maintenance import expire_snapshots

        return expire_snapshots(self, **kwargs)

    def rewrite_data_files(self, **kwargs):
        from .maintenance import rewrite_data_files

        return rewrite_data_files(self, **kwargs)

    def rewrite_position_deletes(self):
        from .maintenance import rewrite_position_deletes

        return rewrite_position_deletes(self)

    def refresh_ndv_stats(self, columns: list[str], *, k: int = 64) -> dict[str, float]:
        """Incremental per-column NDV sketches — see maintenance.refresh_ndv_stats."""
        from .maintenance import refresh_ndv_stats

        return refresh_ndv_stats(self, columns, k=k)

    def approx_ndv(self, column: str) -> tuple[float, bool]:
        """(estimate, fresh) from the stored sketch, metadata-only."""
        from .maintenance import approx_ndv

        return approx_ndv(self, column)

    def rewrite_manifests(self, target_entries_per_manifest: int | None = None
                          ) -> Snapshot:
        """Iceberg rewrite_manifests procedure: reorganize the current
        snapshot's member-manifest chain via a REPLACE commit — data files
        untouched, pure metadata reorganization for tables taking many
        small commits between automatic compactions.

        Default (None): compact to ONE manifest. With
        ``target_entries_per_manifest``: cluster data entries by partition
        tuple, then by each file's MIN bound on the cluster column (the
        sort order's first source column, else the lowest-id column with
        stats), and chunk into members of at most that size — each member
        then covers a contiguous value range and its manifest-list bounds
        are TIGHT, so point/range scans skip whole member manifests
        without reading them (the manifest tier is the planning bottleneck
        on a 100 TB table: 1M-file metadata reads drop to the matching
        members only). Path-ordered grouping would pair arbitrary files
        and give every member near-full-range bounds. Delete entries land
        in their own member so data-filter skips never lose them.
        Reorganizes the engine's parquet dialect; the Iceberg Avro tree
        (external readers) keeps its own incremental layout."""
        import json as _json

        def _cluster_fid(data: list[DataFileEntry]) -> int | None:
            so = self.metadata.default_sort_order
            if so is not None and so.fields:
                return so.fields[0].source_id
            fids = {fid for e in data for fid in e.column_stats}
            return min(fids) if fids else None

        def build() -> Snapshot:
            entries = self.live_entries()
            if target_entries_per_manifest is None:
                return self._commit_snapshot(
                    OP_REPLACE, entries, compact_manifests=True,
                    summary_extra={"rewritten-manifests": "1",
                                   "rows-preserved": "true"})
            if target_entries_per_manifest < 1:
                raise ValidationError(
                    "target_entries_per_manifest must be >= 1")
            data = [e for e in entries if e.content == CONTENT_DATA]
            fid = _cluster_fid(data)

            def min_key(e: DataFileEntry):
                v = (e.column_stats.get(fid) or {}).get("min") if fid is not None else None
                if v is None:
                    return (1, "", "")
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    return (0, "s", str(v))
                return (0, "n", float(v))

            data = sorted(
                data,
                key=lambda e: (_json.dumps(e.partition, sort_keys=True,
                                           default=str), min_key(e),
                               e.file_path))
            k = target_entries_per_manifest
            groups = [data[i:i + k] for i in range(0, len(data), k)]
            dels = [e for e in entries if e.content != CONTENT_DATA]
            if dels:
                groups.append(dels)
            return self._commit_snapshot(
                OP_REPLACE, entries, manifest_groups=groups or [[]],
                summary_extra={"rewritten-manifests": str(max(1, len(groups))),
                               "rows-preserved": "true"})

        return self._retrying(build)

    def remove_orphan_files(self) -> list[str]:
        from .maintenance import remove_orphan_files

        return remove_orphan_files(self)

    def snapshots_df(self) -> DataFrame:
        from .maintenance import snapshots_df

        return snapshots_df(self)

    def files_df(self) -> DataFrame:
        from .maintenance import files_df

        return files_df(self)

    def history_df(self) -> DataFrame:
        from .maintenance import history_df

        return history_df(self)

    def partitions_df(self) -> DataFrame:
        from .maintenance import partitions_df

        return partitions_df(self)

    def manifests_df(self) -> DataFrame:
        from .maintenance import manifests_df

        return manifests_df(self)

    def refs_df(self) -> DataFrame:
        from .maintenance import refs_df

        return refs_df(self)

    def incremental_scan(self, from_snapshot_id: int | None = None,
                         to_snapshot_id: int | None = None,
                         ignore_non_append: bool = False) -> DataFrame:
        """Rows appended in (from, to] — Iceberg's incremental append read.
        No reference counterpart (its scan is always one snapshot,
        reference: table/scan.go:80-98)."""
        from .incremental import incremental_append_scan

        return incremental_append_scan(self, from_snapshot_id, to_snapshot_id,
                                       ignore_non_append=ignore_non_append)

    def changes(self, from_snapshot_id: int | None = None,
                to_snapshot_id: int | None = None) -> DataFrame:
        """Row-level CDC stream for (from, to]: schema columns plus
        ``_change_type`` / ``_change_ordinal``, CoW carryover eliminated,
        MoR delete files replayed to rows."""
        from .incremental import changelog_scan

        return changelog_scan(self, from_snapshot_id, to_snapshot_id)


class SchemaUpdate:
    """Schema evolution builder. Allocates fresh field ids above
    ``highest_field_id`` (reference: spec/schema.go:54-90) and commits a new
    schema version; old data files remain readable through field-id alignment
    in scan.py."""

    def __init__(self, table: Table):
        self.table = table
        self._fields: list[NestedField] = list(table.schema.fields)
        # never reuse an id, even from dropped columns of older schemas
        self._next_id = max(s.highest_field_id() for s in table.metadata.schemas)

    def _alloc(self) -> int:
        self._next_id += 1
        return self._next_id

    def add_column(self, name: str, type_: IcebergType, required: bool = False, doc: str | None = None) -> "SchemaUpdate":
        if any(f.name == name for f in self._fields):
            raise ValidationError(f"column {name} already exists")
        if required:
            raise ValidationError("cannot add a required column to existing rows")
        self._fields.append(NestedField(self._alloc(), name, type_, required, doc))
        return self

    def rename_column(self, old: str, new: str) -> "SchemaUpdate":
        self._fields = [
            NestedField(f.field_id, new, f.type, f.required, f.doc) if f.name == old else f for f in self._fields
        ]
        return self

    def drop_column(self, name: str) -> "SchemaUpdate":
        self._fields = [f for f in self._fields if f.name != name]
        return self

    def update_column_type(self, name: str, type_: IcebergType) -> "SchemaUpdate":
        # permit widening (int->long, float->double) like Iceberg
        self._fields = [
            NestedField(f.field_id, f.name, type_, f.required, f.doc) if f.name == name else f for f in self._fields
        ]
        return self

    def commit(self) -> Schema:
        from dataclasses import replace

        t = self.table
        # a column the DEFAULT partition spec derives from cannot be dropped
        # (Iceberg rule) — committing the drop would brick every subsequent
        # write with "partition source field not in schema"; evolve the spec
        # off the column first. Historical specs may keep dangling sources:
        # their members resolve against their own writer schemas.
        kept_ids = {f.field_id for f in self._fields}
        for pf in t.metadata.default_spec.fields:
            if pf.transform != "void" and pf.source_id not in kept_ids:
                src = t.schema.find_field_by_id(pf.source_id)
                raise ValidationError(
                    f"cannot drop column {src.name if src else pf.source_id!r}: "
                    f"partition field {pf.name!r} ({pf.transform}) of the default "
                    "spec derives from it; update the partition spec first"
                )
        new_schema = Schema(
            schema_id=max(s.schema_id for s in t.metadata.schemas) + 1,
            struct=StructType(tuple(self._fields)),
            identifier_field_ids=t.schema.identifier_field_ids,
        )
        # NAME-KEYED write properties follow the rename (and drop) in the
        # SAME commit — otherwise write.bloom-columns / nan-count-columns
        # silently detach after a rename and every future file loses its
        # blooms/NaN counts, degrading point-lookup and metadata-delete
        # pruning with no error anywhere. Sort orders and
        # partition specs reference field IDS and need no rewrite.
        new_by_id = {f.field_id: f.name for f in self._fields}
        renames = {
            old.name: new_by_id[old.field_id]
            for old in t.schema.fields
            if old.field_id in new_by_id and new_by_id[old.field_id] != old.name
        }
        dropped = {old.name for old in t.schema.fields if old.field_id not in new_by_id}
        properties = t.metadata.properties
        if renames or dropped:
            properties = dict(properties)
            for prop in ("write.bloom-columns", "write.nan-count-columns",
                         "write.exact-bounds-columns"):
                raw = properties.get(prop)
                if not raw:
                    continue
                cols = [c.strip() for c in raw.split(",") if c.strip()]
                cols = [renames.get(c, c) for c in cols if c not in dropped]
                if cols:
                    properties[prop] = ",".join(cols)
                else:
                    properties.pop(prop, None)
        md = replace(
            t.metadata,
            schemas=t.metadata.schemas + (new_schema,),
            current_schema_id=new_schema.schema_id,
            properties=properties,
            last_updated_ms=now_ms(),
        )
        t.version = t._commit_fn(md, t.version)
        t.metadata = md
        return new_schema

"""Scan path: snapshot resolution → manifest pruning → DataFrame.

Re-expresses the reference's scan builder (reference: table/scan.go:16-98
builder + snapshot resolution, :101-190 manifest-driven file planning) with
the parts the reference left as stubs made real:

- ``to_df()`` actually materializes (the reference's ToArrowTable returns an
  empty table, reference: table/scan.go:202-216 TODO);
- file pruning really evaluates the filter against per-file column stats and
  identity-partition values (the reference's fileMightMatch/manifestMightMatch
  always return true, reference: table/insert.go:255-266);
- merge-on-read position deletes ARE applied, via a broadcast anti-join on
  (file_path, row position) using Spark's ``_metadata.file_path`` /
  ``_metadata.row_index`` hidden columns — the reference writes position
  deletes but never applies them on scan (reference: table/scan.go:146-149,
  SURVEY §2.6.4);
- schema evolution: files written under older schemas are aligned to the
  current schema by FIELD ID (rename-safe, type-widening casts, dropped/added
  columns), then unioned.

Scale notes: pruning is metadata-only (no data I/O); the files that survive
are handed to one ``spark.read.parquet(*files)`` so Catalyst still performs
predicate pushdown, column pruning, and vectorized reads within each file;
delete files are typically tiny → broadcast anti-joins, no shuffle of the
data side.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import NoSuchSnapshotError, ValidationError
from ..expr import ALWAYS_TRUE, ColumnStats, Expression, might_match, simplify, to_column
from ..schema import DecimalType, FixedType, PrimitiveType, Schema, to_spark_type
from .metadata import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    DataFileEntry,
    Snapshot,
    TableMetadata,
    delete_applies,
    manifest_members,
)
from .write import encode_literal

POS_DELETE_FILE_COL = "file_path"  # position-delete schema (reference: table/writer.go:290-293)
POS_DELETE_POS_COL = "pos"


@dataclass
class FileScanTask:
    """Planned file (reference: table/scan.go:193-199) — with delete files
    actually attached, unlike the reference (SURVEY §2.6.4)."""

    file: DataFileEntry
    delete_files: list[DataFileEntry] = dc_field(default_factory=list)


def _stats_for_pruning(entry: DataFileEntry, schema: Schema) -> dict[str, ColumnStats]:
    """Column-name-keyed stats view for ``might_match`` (names resolved from
    field ids against the CURRENT schema, so renames don't break pruning)."""
    out: dict[str, ColumnStats] = {}
    for fid, s in entry.column_stats.items():
        f = schema.find_field_by_id(fid)
        if f is None:
            continue
        out[f.name] = ColumnStats(
            min=s.get("min"), max=s.get("max"), null_count=s.get("null_count"),
            value_count=s.get("value_count"), bloom=s.get("bloom"),
            nan_count=s.get("nan_count"),
        )
    return out


def _bucket_partition_might_match(e: Expression, entry: DataFileEntry, md: TableMetadata) -> bool:
    """Bucket-transform partition pruning (the one transform per-file column
    stats CANNOT prune — hashing scatters values, so every file's min/max
    spans the key range): an EQ/IN literal on a bucket[N] source column is
    hashed driver-side with Spark's own Murmur3 (``write.bucket_for_literal``)
    and the file is skipped when its recorded bucket can't contain it.
    Identity/truncate/date transforms need no partition check — their files
    have tight source-column bounds, so stats pruning already covers them.
    Conservative: NOT subtrees, unhashable literal types, and null partition
    values all keep the file."""
    from ..expr import Op
    from .write import _BUCKET_RE, bucket_for_literal

    if e.op is Op.AND:
        return all(_bucket_partition_might_match(c, entry, md) for c in e.children)
    if e.op is Op.OR:
        return any(_bucket_partition_might_match(c, entry, md) for c in e.children)
    if e.op not in (Op.EQ, Op.IN):
        return True
    spec = next((s for s in md.partition_specs if s.spec_id == entry.spec_id), None)
    if spec is None:
        return True
    for pf in spec.fields:
        m = _BUCKET_RE.match(pf.transform)
        if not m:
            continue
        src = md.current_schema.find_field_by_id(pf.source_id)
        if src is None or src.name != e.column:
            continue
        pv = entry.partition.get(pf.name)
        if pv is None:
            continue
        n = int(m.group(1))
        vals = [e.value] if e.op is Op.EQ else list(e.values)
        from .write import resolve_bucket_fn

        fn = resolve_bucket_fn(md.properties)
        buckets = [bucket_for_literal(v, n, src.type, bucket_fn=fn) for v in vals]
        if any(b is None for b in buckets):
            continue
        if int(pv) not in buckets:
            return False
    return True


def _encode_filter(e: Expression, schema: Schema) -> Expression:
    """Encode filter literals into stats space (timestamps→µs etc.)."""
    t = schema.find_field(e.column).type if e.column and schema.find_field(e.column) else None
    return Expression(
        op=e.op,
        column=e.column,
        value=encode_literal(e.value, t) if e.value is not None else None,
        values=tuple(encode_literal(v, t) for v in e.values),
        children=tuple(_encode_filter(c, schema) for c in e.children),
    )


def _rel_file_expr(location: str):
    """The current row's source file as the manifest records it: relative to
    the table location when under it, else the full normalized path
    (``add_files`` imports, ``write.data.path`` trees). The prefix GUARD
    matters: blindly substringing an external path would map different files
    to colliding (or empty) keys and a position-delete anti-join keyed on it
    would drop rows from the wrong files."""
    norm = F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    prefix = location.rstrip("/") + "/"
    return F.when(
        norm.startswith(F.lit(prefix)), F.substring(norm, len(prefix) + 1, 1 << 30)
    ).otherwise(norm)


class ScanBuilder:
    """Fluent scan (reference: table/scan.go:16-77).

    ``use_snapshot`` / ``as_of`` give time travel (reference: table/scan.go:
    80-98: as-of beats snapshot-id beats current)."""

    def __init__(self, table: "Table"):  # noqa: F821 - forward ref to table.py
        self._table = table
        self._snapshot_id: int | None = None
        self._as_of: dt.datetime | int | None = None
        self._filter: Expression = ALWAYS_TRUE
        self._selected: list[str] | None = None
        self._limit: int | None = None
        self._case_sensitive = True
        # Iceberg read-schema rule: time travel (snapshot id / as-of) and
        # TAG reads use the snapshot's schema; current reads and BRANCH
        # reads use the table's current schema
        self._schema_from_snapshot = False

    # -- builder ----------------------------------------------------------
    def use_snapshot(self, snapshot_id: int) -> "ScanBuilder":
        self._snapshot_id = snapshot_id
        self._schema_from_snapshot = True
        return self

    def use_ref(self, name: str) -> "ScanBuilder":
        """Read a branch or tag head (write-audit-publish: audit the staged
        branch before fast-forwarding main). Branch reads keep the table's
        current schema, tag reads pin the snapshot's (Iceberg rule)."""
        ref = self._table.metadata.refs.get(name)
        if ref is None:
            raise NoSuchSnapshotError(f"ref {name!r} does not exist")
        self._snapshot_id = ref.snapshot_id
        self._schema_from_snapshot = ref.type == "tag"
        return self

    def as_of(self, ts: dt.datetime | int) -> "ScanBuilder":
        self._as_of = ts
        self._schema_from_snapshot = True
        return self

    def filter(self, expr: Expression) -> "ScanBuilder":
        from ..expr import and_

        self._filter = and_(self._filter, expr)
        return self

    def select(self, *cols: str) -> "ScanBuilder":
        self._selected = list(cols)
        return self

    def limit(self, n: int) -> "ScanBuilder":
        self._limit = n
        return self

    def case_sensitive(self, flag: bool) -> "ScanBuilder":
        self._case_sensitive = flag
        return self

    # -- planning ---------------------------------------------------------
    def _projection_schema(self, snap: "Snapshot | None") -> Schema:
        """The schema this scan reads with: the targeted snapshot's schema
        for time-travel / tag reads, else the current schema (Iceberg
        time-travel semantics — a snapshot is read as it was written, so a
        later rename/add/drop does not leak into historical reads)."""
        md = self._table.metadata
        if (self._schema_from_snapshot and snap is not None
                and _has_schema(md, snap.schema_id)):
            return md.schema_by_id(snap.schema_id)
        return md.current_schema

    def _resolve_snapshot(self) -> Snapshot | None:
        """as-of > snapshot-id > current; None for empty table
        (reference: table/scan.go:80-98)."""
        md = self._table.metadata
        if self._as_of is not None:
            ts = self._as_of
            if isinstance(ts, dt.datetime):
                ts = int(ts.timestamp() * 1000)
            return md.snapshot_at(ts)
        if self._snapshot_id is not None:
            return md.snapshot_by_id(self._snapshot_id)
        return md.current_snapshot()

    def plan_files(self) -> list[FileScanTask]:
        """Manifest-driven planning with real stats pruning
        (reference: table/scan.go:101-190, pruning stubs made real).

        Snapshot-level bounds can skip the manifest read entirely; otherwise
        ``_pruned_entries`` picks a planning tier (table/planning.py)."""
        snap = self._resolve_snapshot()
        if snap is None:
            return []
        md = self._table.metadata
        proj = self._projection_schema(snap)
        flt = simplify(self._filter)
        enc = _encode_filter(flt, proj)

        from .planning import summary_might_match

        bounds = snap.summary.get("bounds")
        if bounds is not None and not summary_might_match(bounds, enc, proj):
            return []

        entries = self._pruned_entries(snap, enc, md, proj)
        data_files = [e for e in entries if e.content == CONTENT_DATA
                      if _bucket_partition_might_match(flt, e, md)]
        deletes = ([e for e in entries if e.content == CONTENT_POSITION_DELETES]
                   + [e for e in entries if e.content == CONTENT_EQUALITY_DELETES])

        # delete-file applicability depends only on the data file's sequence
        # number; memoize per distinct sequence so planning is
        # O(data + sequences x deletes), not O(data x deletes)
        dels_by_seq: dict[int, list[DataFileEntry]] = {}

        def dels_for(e: DataFileEntry) -> list[DataFileEntry]:
            if e.sequence_number not in dels_by_seq:
                dels_by_seq[e.sequence_number] = [
                    d for d in deletes if delete_applies(d, e)]
            return dels_by_seq[e.sequence_number]

        return [FileScanTask(e, dels_for(e)) for e in data_files]

    # kept-entry counts up to this are pruned in memory through the table's
    # per-member cache; above it, scans do a pruned read per planning call
    # instead of holding every entry in driver memory
    _CACHE_ENTRY_LIMIT = 10_000

    def _pruned_entries(self, snap, enc: Expression, md: TableMetadata,
                        proj: Schema | None = None) -> list[DataFileEntry]:
        """Data entries surviving stats pruning, plus ALL delete entries,
        from the planning tier the snapshot's size picks (the tier rule is
        stated in ``planning.py``). ``proj`` is the scan's projection schema
        (time travel reads prune against the snapshot's schema, not the
        current one)."""
        from . import planning

        proj = proj or md.current_schema
        table = self._table
        cached = os.path.join(table.location, snap.manifest_path) in table._manifest_cache
        members = None if cached else manifest_members(table.location, snap, table._mio)
        if members is None:
            # every entry already cached, or an Avro-only snapshot
            entries = table.manifest_entries(snap)
        else:
            # members holding delete entries (nd > 0) or without stamped
            # bounds are always read; entries of a skipped member provably
            # fail might_match, since each entry's interval lies inside the
            # member's aggregate bounds
            members = [m for m in members if m.get("nd", 1) or "bounds" not in m
                       or planning.summary_might_match(m["bounds"], enc, proj)]
            if table._mio is None:
                paths = [os.path.join(table.location, m["path"]) for m in members]
                n = sum(m["n"] for m in members)
                if n > planning.DISTRIBUTED_THRESHOLD:
                    from .write import resolve_bucket_fn

                    return planning.plan_distributed(
                        table.spark, paths, enc, proj,
                        specs=md.partition_specs,
                        bucket_fn=resolve_bucket_fn(md.properties))
                if n > self._CACHE_ENTRY_LIMIT:
                    return [e for p in paths
                            for e in planning.prune_manifest_driver(p, enc, proj)]
            entries = [e for m in members for e in table._member_entries(m["path"])]
        return [
            e for e in entries
            if e.content != CONTENT_DATA or might_match(enc, _stats_for_pruning(e, proj))
        ]

    # -- execution --------------------------------------------------------
    def to_df(self) -> DataFrame:
        """Materialize the scan as a DataFrame (the reference's stubbed
        ToArrowTable, table/scan.go:202-216, made real)."""
        spark = self._table.spark
        md = self._table.metadata
        tasks = self.plan_files()
        cur_schema = self._projection_schema(self._resolve_snapshot())
        spark_schema = to_spark_type(cur_schema.struct)

        if not tasks:
            df = spark.createDataFrame([], spark_schema)
        else:
            df = self._read_aligned(spark, md, tasks, cur_schema)

        if self._filter is not ALWAYS_TRUE:
            # bind filter columns against the PROJECTION schema first: a
            # filter referencing a column unknown to a time-travel/tag
            # snapshot's pinned schema gets the engine's taxonomy, not a raw
            # Spark AnalysisException (r6 probe)
            from ..expr import referenced_columns

            known = {f.name for f in cur_schema.fields}
            if not self._case_sensitive:
                known |= {n.lower() for n in known}
            for c in referenced_columns(self._filter):
                if (c if self._case_sensitive else c.lower()) not in known:
                    raise ValidationError(
                        f"filter column {c!r} not in the scanned schema "
                        f"(schema id {cur_schema.schema_id}; time-travel and "
                        f"tag reads pin the snapshot's schema)")
            df = df.filter(to_column(self._filter))
        if self._selected:
            if not self._case_sensitive:
                lower = {f.name.lower(): f.name for f in cur_schema.fields}
                cols = [lower.get(c.lower(), c) for c in self._selected]
            else:
                cols = self._selected
            df = df.select(*cols)
        if self._limit is not None:
            df = df.limit(self._limit)
        return df

    def _read_aligned(self, spark: SparkSession, md: TableMetadata,
                      tasks: list[FileScanTask], target: Schema | None = None) -> DataFrame:
        """Read planned files grouped by writer schema, align to the scan's
        projection schema by field id, apply MoR deletes, union."""
        cur = target or md.current_schema

        # group data files by (schema_id, applicable delete-file set);
        # IMPORTED files (absolute paths, hive-migration layout) also group
        # by their partition tuple + spec so identity-partition columns
        # absent from the data can be reconstituted per group — matching
        # Iceberg's metadata-backed partition columns. Engine-written files
        # always contain every column, so their grouping is unchanged.
        groups: dict[tuple, list[FileScanTask]] = {}
        for t in tasks:
            imported = os.path.isabs(t.file.file_path)
            pkey = (
                (t.file.spec_id, tuple(sorted(t.file.partition.items(), key=repr)))
                if imported else None
            )
            key = (t.file.schema_id,
                   tuple(sorted(d.file_path for d in t.delete_files)), pkey)
            groups.setdefault(key, []).append(t)

        parts: list[DataFrame] = []
        loc = self._table.location
        for (schema_id, _del_key, pkey), ts in groups.items():
            file_schema = md.schema_by_id(schema_id) if _has_schema(md, schema_id) else cur
            paths = [os.path.join(loc, t.file.file_path) for t in ts]
            dels = ts[0].delete_files
            raw = spark.read.parquet(*paths)
            if pkey is not None:
                raw = self._reconstitute_partition_columns(raw, ts[0].file, file_schema, md)
            raw = self._apply_deletes(spark, raw, dels, file_schema, paths)
            parts.append(_align_to_schema(raw, file_schema, cur))

        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _reconstitute_partition_columns(
        self, raw: DataFrame, entry: DataFileEntry, file_schema: Schema, md: TableMetadata
    ) -> DataFrame:
        """Fill identity-partition source columns an IMPORTED data file does
        not contain from the entry's partition metadata (every row of the
        file shares the value) — the hive-migration read path."""
        spec = next((s for s in md.partition_specs if s.spec_id == entry.spec_id), None)
        if spec is None:
            return raw
        from ..schema import to_spark_type

        for pf in spec.fields:
            if pf.transform != "identity":
                continue
            src = file_schema.find_field_by_id(pf.source_id) or \
                md.current_schema.find_field_by_id(pf.source_id)
            if src is None or src.name in raw.columns:
                continue
            v = entry.partition.get(pf.name)
            col = F.lit(v).cast(to_spark_type(src.type))
            raw = raw.withColumn(src.name, col)
        return raw

    def _apply_deletes(
        self,
        spark: SparkSession,
        df: DataFrame,
        delete_files: list[DataFileEntry],
        file_schema: Schema,
        data_paths: list[str],
    ) -> DataFrame:
        if not delete_files:
            return df
        pos = [d for d in delete_files if d.content == CONTENT_POSITION_DELETES]
        eq = [d for d in delete_files if d.content == CONTENT_EQUALITY_DELETES]

        loc = self._table.location
        if pos:
            # (file, row_index) anti-join; Spark's hidden _metadata column
            # gives a "file:///..." URI — normalize to the manifest's
            # table-relative path convention.
            deletes = spark.read.parquet(*[os.path.join(loc, d.file_path) for d in pos]).select(
                F.col(POS_DELETE_FILE_COL).alias("_del_file"),
                F.col(POS_DELETE_POS_COL).alias("_del_pos"),
            )
            df = (
                df.withColumn("_file", _rel_file_expr(loc))
                .withColumn("_pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(deletes),
                    on=[F.col("_file") == F.col("_del_file"), F.col("_pos") == F.col("_del_pos")],
                    how="left_anti",
                )
                .drop("_file", "_pos")
            )
        # equality deletes: drop rows whose key tuple appears in a delete file
        # (null-safe), only for data written before the delete (sequence
        # filtering already done at planning time). Keys are FIELD IDS, so
        # the physical column name inside each delete parquet is resolved
        # against the delete file's OWN writer schema and the data side
        # against ITS writer schema — a rename between the two (or between
        # either and the current schema) must not desynchronize the join.
        # Files sharing a key-id set still collapse into ONE anti-join
        # (reads grouped per writer-schema generation, unioned after
        # aliasing) — n delete files with the same equality_ids cost one
        # join, not n. A key column absent from the data file's schema reads
        # as NULL for every row (Iceberg missing-column semantics), matched
        # null-safely.
        md = self._table.metadata
        by_ids: dict[tuple[int, ...], list[DataFileEntry]] = {}
        for d in eq:
            if d.equality_ids:
                by_ids.setdefault(tuple(d.equality_ids), []).append(d)
        for fid_key, ds in by_ids.items():
            canon = []  # join-column names as the DATA side knows them
            for fid in fid_key:
                f = file_schema.find_field_by_id(fid)
                if f is None:  # dropped/added around this file: any schema
                    f = next((s.find_field_by_id(fid) for s in md.schemas
                              if s.find_field_by_id(fid) is not None), None)
                if f is None:
                    raise ValueError(
                        f"equality-delete field id {fid} unknown to every "
                        f"table schema (files: {[x.file_path for x in ds]})")
                canon.append(f.name)
            parts: list[DataFrame] = []
            by_sid: dict[int, list[DataFileEntry]] = {}
            for d in ds:
                by_sid.setdefault(d.schema_id, []).append(d)
            for sid, dss in by_sid.items():
                dsch = md.schema_by_id(sid) if _has_schema(md, sid) else file_schema
                phys = [
                    (g.name if (g := dsch.find_field_by_id(fid)) is not None else c)
                    for fid, c in zip(fid_key, canon)
                ]
                p = spark.read.parquet(
                    *[os.path.join(loc, d.file_path) for d in dss]).select(
                    *[F.col(n).alias(c) for n, c in zip(phys, canon)])
                parts.append(p)
            del_df = parts[0]
            for p in parts[1:]:
                del_df = del_df.unionByName(p)
            cond = [
                (df[c] if c in df.columns else F.lit(None)).eqNullSafe(del_df[c])
                for c in canon
            ]
            df = df.join(F.broadcast(del_df), on=cond, how="left_anti")
        return df

    # -- counts -----------------------------------------------------------
    def count(self) -> int:
        """Exact filtered count via Spark (SURVEY §2.6.3 fix)."""
        return self.to_df().count()

    def metadata_count(self) -> int:
        """The reference's Count: sum of metadata record counts over planned
        files, CLAMPED by limit, ignoring filters and delete files
        (reference: table/scan.go:234-250) — kept verbatim as the fast
        metadata-only path, under an honest name."""
        snap = self._resolve_snapshot()
        if snap is None:
            return 0
        table = self._table
        members = None
        if (os.path.join(table.location, snap.manifest_path) not in table._manifest_cache
                and table._mio is None):
            members = manifest_members(table.location, snap)
        if members is None:
            entries = table.manifest_entries(snap)
            total = sum(e.record_count for e in entries if e.content == CONTENT_DATA)
        else:
            # column-pruned read of one member at a time: two int columns,
            # never the stats, summed in Arrow
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            total = 0
            for m in members:
                t = pq.read_table(os.path.join(table.location, m["path"]),
                                  columns=["content", "record_count"])
                data = pc.filter(t["record_count"], pc.equal(t["content"], CONTENT_DATA))
                total += pc.sum(data).as_py() or 0
        if self._limit is not None and total > self._limit:
            return self._limit
        return total

    def metadata_min_max(self, column: str):
        """Exact (min, max) of a column answered from manifest STATS alone
        — zero data read, O(live files) driver metadata (r9; the natural
        extension of the reference's metadata-only count,
        table/scan.go:234-250) — or None when metadata cannot PROVE
        exactness, in which case the caller falls back to the scan.
        The proof requires: no filter and no limit set on this builder;
        no live DELETE files (a suppressed row could be the extremum);
        every non-all-NULL data file carrying both bounds for the column;
        and for float/double columns a PROVEN-ZERO NaN count per file
        (parquet bounds exclude NaN, which Spark orders ABOVE every
        double — an unproven max would silently be wrong, the r6 NaN
        class). All-NULL files contribute no values; a table whose every
        row is NULL returns (None, None), matching SQL MIN/MAX. Bounds
        decode from the stat space back to the column's type
        (dates/timestamps/decimals/binary)."""
        from ..expr import Op
        from .write import decode_stat

        if self._filter is not None and self._filter.op is not Op.ALWAYS_TRUE:
            return None
        if self._limit is not None:
            return None
        snap = self._resolve_snapshot()
        if snap is None:
            return (None, None)
        # resolve the name against the SAME schema to_df() would read with
        # (time-travel/tag reads pin the snapshot's schema) — the stats key
        # is the field id, so only the name lookup switches (r9 ADVICE)
        f = self._projection_schema(snap).find_field(column)
        if f is None:
            return None
        needs_exact_marker = isinstance(f.type, FixedType) or (
            isinstance(f.type, PrimitiveType)
            and f.type.name in ("string", "binary", "uuid"))
        # parquet writers may TRUNCATE long string/binary footer bounds
        # (incrementing the truncated max so it stays a VALID bound — fine
        # for pruning, but it can be a value present in no row, so an
        # EXACTNESS claim would silently lie). THIS engine's writer computes
        # value-derived bounds for columns listed in
        # write.exact-bounds-columns and stamps them ``bounds_exact`` —
        # only stats carrying that marker may serve the class; unmarked
        # stats (add_files imports, pre-r10 manifests) stay refused.
        is_float = isinstance(f.type, PrimitiveType) and f.type.name in ("float", "double")

        def _nb(v):
            # normalize a bound into the current int encode space: legacy
            # pre-r9 manifests stored decimals as str(Decimal), which
            # compares LEXICOGRAPHICALLY — decode to the unscaled int
            if isinstance(f.type, DecimalType) and isinstance(v, str):
                import decimal as _dec

                try:
                    return int(_dec.Decimal(v).scaleb(
                        f.type.scale, _dec.Context(prec=60)))
                except _dec.InvalidOperation:
                    return None
            return v

        entries = self._table.manifest_entries(snap)
        if any(e.content != CONTENT_DATA for e in entries):
            return None
        lo = hi = None
        for e in entries:
            if e.record_count == 0:
                continue
            s = e.column_stats.get(f.field_id)
            if not s:
                return None
            nulls, vals = s.get("null_count"), s.get("value_count")
            if nulls is not None and vals is not None and nulls >= vals:
                continue  # all-NULL file: contributes no values
            mn, mx = _nb(s.get("min")), _nb(s.get("max"))
            if mn is None or mx is None:
                return None
            if needs_exact_marker and not s.get("bounds_exact"):
                return None  # possibly-truncated string/binary bounds
            if is_float and s.get("nan_count") != 0:
                return None  # unproven NaN count: bounds may exclude the max
            try:
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            except TypeError:
                return None  # mixed encodings across schema generations
        return (decode_stat(lo, f.type), decode_stat(hi, f.type))


def _has_schema(md: TableMetadata, sid: int) -> bool:
    return any(s.schema_id == sid for s in md.schemas)


def _align_to_schema(df: DataFrame, file_schema: Schema, current: Schema) -> DataFrame:
    """Project a file-schema DataFrame onto the current schema by field id:
    renames follow ids, missing columns become NULL, changed types cast
    (int→long / float→double widening)."""
    if file_schema.schema_id == current.schema_id:
        # fast path: same schema — still select to fix column order and drop
        # any stray partition-derived columns
        names = [f.name for f in current.fields if f.name in df.columns]
        if len(names) == len(current.fields):
            return df.select(*names)
    cols = []
    for f in current.fields:
        old = file_schema.find_field_by_id(f.field_id)
        spark_t = to_spark_type(f.type)
        if old is not None and old.name in df.columns:
            cols.append(F.col(old.name).cast(spark_t).alias(f.name))
        else:
            cols.append(F.lit(None).cast(spark_t).alias(f.name))
    return df.select(*cols)

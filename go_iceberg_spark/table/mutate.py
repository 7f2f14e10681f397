"""Row-level mutations: delete (copy-on-write & merge-on-read), update,
upsert/MERGE — the reference's CRUD family re-expressed as Spark jobs.

Reference behavior being re-expressed (and fixed where buggy):
- CoW delete: per matching file, read → drop matching rows → write replacement,
  swap in one snapshot (reference: table/delete.go:83-183). Here: ONE Spark job
  reads only the stats-pruned candidate files, keeps non-matching rows, writes
  replacements; untouched files are never read — the pruning the reference
  stubs (table/insert.go:262-266) is what makes this viable at 100 TB.
- MoR delete: write position-delete files listing (file_path, pos) of matching
  rows (reference: table/delete.go:401-491); the scan side actually applies
  them (scan.py), unlike the reference (SURVEY §2.6.4).
- Update = CoW rewrite with new values on matching rows (reference:
  table/update.go:31-238).
- Upsert = MERGE with null-safe key equality — fixing the reference's
  stringified composite key (fmt.Sprintf("%v"), collision-prone and
  null-unsafe, reference: table/update.go:581-593, SURVEY §2.6.6). The
  reference's upsert is its only join (hash key-match, table/update.go:
  384-390); here it is a real Spark join with broadcast/AQE planning.

All mutations follow the same shape: plan candidate files from manifest stats
(metadata-only), run one distributed job over candidates, commit one snapshot
swapping old files for new. Sequence numbers order MoR deletes vs data.

Candidate files are read through the scan reader (``scan.read_files``) with
the live delete files that apply to them, so a rewrite compacts those
deletes and the MoR writer never tombstones a row that is already dead.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ValidationError
from ..expr import Expression, might_match, must_match, simplify, to_column
from .metadata import (
    CONTENT_DATA,
    CONTENT_POSITION_DELETES,
    OP_DELETE,
    OP_OVERWRITE,
    OP_REPLACE,
    DataFileEntry,
    PartitionSpec,
    delete_applies,
)
from .scan import (
    POS_DELETE_FILE_COL,
    POS_DELETE_POS_COL,
    _encode_filter,
    _stats_for_pruning,
    empty_frame,
    read_files,
    scan_tasks,
)
from .write import write_data_files

COPY_ON_WRITE = "copy-on-write"  # reference: table/delete.go:17-25
MERGE_ON_READ = "merge-on-read"


def _split_candidates(table, filter_: Expression) -> tuple[list[DataFileEntry], list[DataFileEntry]]:
    """Stats-prune live data files into (candidates, untouched)."""
    md = table.metadata
    enc = _encode_filter(simplify(filter_), md.current_schema)
    candidates: list[DataFileEntry] = []
    untouched: list[DataFileEntry] = []
    for e in table.live_entries():
        if e.content != CONTENT_DATA:
            continue  # superseded MoR deletes are compacted away by rewrites
        if might_match(enc, _stats_for_pruning(e, md.current_schema)):
            candidates.append(e)
        else:
            untouched.append(e)
    return candidates, untouched


def _other_deletes(table) -> list[DataFileEntry]:
    return [e for e in table.live_entries() if e.content != CONTENT_DATA]


def rewrite_for_delete(table, filter_: Expression) -> list[DataFileEntry]:
    """Shared CoW machinery: rewrite candidate files without matching rows;
    return the full surviving live-entry set (untouched + rewritten),
    WITHOUT committing. (reference: table/delete.go:142-183 per-file loop →
    one distributed job here)."""
    candidates, untouched = _split_candidates(table, filter_)
    if not candidates:
        return table.live_entries()
    md = table.metadata
    # DROP-PARTITION fast path: a candidate whose stats prove EVERY row
    # matches is dropped from the snapshot outright — metadata-only, the
    # file is never read. A partition-aligned delete touches no data at all.
    enc = _encode_filter(simplify(filter_), md.current_schema)
    rewrite = [
        e for e in candidates
        if not must_match(enc, _stats_for_pruning(e, md.current_schema))
    ]
    if not rewrite:
        remaining_deletes = _deletes_still_needed(table, untouched)
        return untouched + remaining_deletes
    survivors_df = read_files(table, scan_tasks(rewrite, _other_deletes(table)),
                              md.current_schema)
    survivors_df = survivors_df.filter(~to_column(filter_) | to_column(filter_).isNull())
    new_files = write_data_files(table, survivors_df)
    # rewritten files have deletes applied; keep delete files only for untouched data
    remaining_deletes = _deletes_still_needed(table, untouched)
    return untouched + remaining_deletes + new_files


def _deletes_still_needed(table, data_entries: list[DataFileEntry]) -> list[DataFileEntry]:
    """Keep MoR delete files only while some live data file can still be
    affected by them (sequence-number rules as in scan planning)."""
    return [d for d in _other_deletes(table)
            if any(delete_applies(d, e) for e in data_entries)]


def _rebind_to_current(entry_schema, current_schema, names, what: str) -> dict[str, str]:
    """Map column names captured at operation entry onto the (possibly
    concurrently-evolved) current schema by FIELD ID.

    User-facing names bind to field ids when the operation is issued — the
    Iceberg rule. A retry after a losing commit race must re-express those
    ids in the reloaded schema's names: a concurrent rename follows the
    field, a concurrent drop of a referenced field is a real conflict and
    raises. Calling with entry == current doubles as eager name validation
    (previously a stale-name delete filter "worked" only when Spark's
    analyzer could resolve the old name through the alignment Project into
    files that physically carried it — correct or crashing by file vintage)."""
    mapping: dict[str, str] = {}
    for n in dict.fromkeys(names):
        fe = entry_schema.find_field(n)
        if fe is None:
            raise ValidationError(f"unknown column {n!r} in {what}")
        fc = current_schema.find_field_by_id(fe.field_id)
        if fc is None:
            raise ValidationError(
                f"column {n!r} (field {fe.field_id}) referenced by {what} "
                "was dropped by a concurrent schema change")
        if fc.name != n:
            mapping[n] = fc.name
    return mapping


def _rebind_filter(entry_schema, current_schema, filter_: Expression, what: str) -> Expression:
    from ..expr import referenced_columns, rename_columns

    mapping = _rebind_to_current(
        entry_schema, current_schema, referenced_columns(filter_), what)
    return rename_columns(filter_, mapping)


def delete(table, filter_: Expression, mode: str = COPY_ON_WRITE):
    """DELETE FROM … WHERE filter (reference: table/delete.go:56-79 dispatch).

    Retries past concurrent commits like every other mutation: the
    rewrite recomputes against the RELOADED metadata on each attempt, so a
    racing append's rows survive and a racing delete's files don't
    resurrect. Conflicts are rare; recomputing the rewrite is the price of
    never committing against stale state. Filter names bind to field ids at
    entry and re-bind per attempt, so a concurrent column rename follows
    the field."""
    entry_schema = table.metadata.current_schema
    _rebind_filter(entry_schema, entry_schema, filter_, "delete filter")
    if mode == COPY_ON_WRITE:
        def build_and_commit():
            f = _rebind_filter(entry_schema, table.metadata.current_schema,
                               filter_, "delete filter")
            return table._commit_snapshot(OP_DELETE, rewrite_for_delete(table, f))

        return table._retrying(build_and_commit)
    if mode == MERGE_ON_READ:
        def build_and_commit_mor():
            f = _rebind_filter(entry_schema, table.metadata.current_schema,
                               filter_, "delete filter")
            return _delete_merge_on_read(table, f)

        return table._retrying(build_and_commit_mor)
    raise ValidationError(f"unknown delete mode {mode!r}")


def _delete_merge_on_read(table, filter_: Expression):
    """Write position-delete files for matching rows (reference:
    table/delete.go:401-491). Positions come from Spark's _metadata.row_index
    — computed distributively, not the reference's driver row loop."""
    candidates, _untouched = _split_candidates(table, filter_)
    if not candidates:
        return table._commit_snapshot(OP_DELETE, table.live_entries())
    md = table.metadata
    # candidates read with their applicable deletes applied: a row an
    # earlier delete already suppressed is not tombstoned again (overlapping
    # MoR deletes would otherwise list a duplicate (file, pos) per delete,
    # inflating every later scan's anti-join build side for no information)
    rows = read_files(table, scan_tasks(candidates, _other_deletes(table)),
                      md.current_schema, lineage=True)
    # position-delete schema (file_path, pos) — reference: table/writer.go:290-293
    deletes_df = (rows.filter(to_column(filter_))
                  .select(F.col("_file").alias(POS_DELETE_FILE_COL),
                          F.col("_pos").alias(POS_DELETE_POS_COL))
                  .orderBy(POS_DELETE_FILE_COL, POS_DELETE_POS_COL))
    del_files = write_data_files(
        table, deletes_df, CONTENT_POSITION_DELETES, _pos_delete_schema(),
        _pos_delete_spec(md))
    return table._commit_snapshot(OP_DELETE, table.live_entries() + del_files)


def _pos_delete_spec(md):
    """Position-delete files are unpartitioned under the default spec's id."""
    return PartitionSpec(md.default_spec.spec_id, ())


def _pos_delete_schema():
    from ..schema import LONG, STRING, NestedField, Schema, StructType

    return Schema(-1, StructType((
        NestedField(2147483546, "file_path", STRING, True),
        NestedField(2147483545, "pos", LONG, True),
    )))


def update(table, filter_: Expression, assignments: dict[str, Any]):
    """UPDATE … SET … WHERE … as CoW rewrite (reference: table/update.go:31-238).

    Like the reference, rewrite is at file granularity: non-matching rows of a
    candidate file are rewritten unchanged (SURVEY §2.6.7) — but in one
    distributed job with a vectorized CASE WHEN instead of a per-row driver
    loop."""
    entry_schema = table.metadata.current_schema
    for c in assignments:
        if entry_schema.find_field(c) is None:
            raise ValidationError(f"unknown column {c!r} in update")
    from ..expr import referenced_columns, rename_columns

    _rebind_to_current(entry_schema, entry_schema,
                       referenced_columns(filter_), "update filter")

    def build_and_commit():
        md = table.metadata  # reloaded by _retrying on conflict
        mapping = _rebind_to_current(
            entry_schema, md.current_schema,
            list(assignments) + referenced_columns(filter_), "update")
        flt = rename_columns(filter_, mapping)
        candidates, untouched = _split_candidates(table, flt)
        if not candidates:
            return table._commit_snapshot(OP_REPLACE, table.live_entries())
        df = read_files(table, scan_tasks(candidates, _other_deletes(table)),
                        md.current_schema)
        cond = to_column(flt)
        from pyspark.sql import Column as _Col

        for c, v in assignments.items():
            c = mapping.get(c, c)
            val = v if isinstance(v, _Col) else F.lit(v)
            field_type = to_spark_field_type(md.current_schema, c)
            df = df.withColumn(c, F.when(cond, val.cast(field_type)).otherwise(F.col(c)))
        new_files = write_data_files(table, df)
        remaining_deletes = _deletes_still_needed(table, untouched)
        return table._commit_snapshot(OP_REPLACE, untouched + remaining_deletes + new_files)

    return table._retrying(build_and_commit)


def to_spark_field_type(schema, name: str):
    from ..schema import to_spark_type

    return to_spark_type(schema.find_field(name).type)


def upsert(table, source: DataFrame, key_columns: list[str],
           summary_extra: dict[str, str] | None = None,
           properties_extra: dict[str, str] | None = None,
           pre_commit_check=None):
    """Upsert = MERGE matched→update-all, not-matched→insert
    (reference: table/update.go:360-459)."""
    return merge(table, source, key_columns, when_matched_update="*",
                 when_not_matched_insert=True, summary_extra=summary_extra,
                 properties_extra=properties_extra,
                 pre_commit_check=pre_commit_check)


def merge(table, source: DataFrame, on: list[str], *,
          when_matched_update: dict[str, Any] | str | None = "*",
          when_not_matched_insert: bool = True,
          when_matched_delete: "bool | Column" = False,
          when_not_matched_by_source_delete: "bool | Column" = False,
          when_not_matched_by_source_update: dict[str, Any] | None = None,
          summary_extra: dict[str, str] | None = None,
          properties_extra: dict[str, str] | None = None,
          pre_commit_check=None):
    """MERGE INTO over the table, null-safe on composite keys.

    ``when_matched_delete`` may be ``True`` (delete ALL matched rows —
    mutually exclusive with an update) or a boolean ``Column`` over the
    aliased sides ``t``/``s`` (``WHEN MATCHED AND <cond> THEN DELETE``):
    matched rows satisfying the condition are deleted, the remaining matched
    rows still receive ``when_matched_update`` — the full three-clause MERGE
    surface in one commit.

    The fourth clause family (``WHEN NOT MATCHED BY SOURCE`` — the CDC
    full-sync shape: reconcile target rows whose keys are absent from the
    source): ``when_not_matched_by_source_delete`` is ``True`` or a boolean
    ``Column`` over the target alias ``t`` (only ``t`` exists for these
    rows); rows it does not consume receive
    ``when_not_matched_by_source_update`` assignments (clauses evaluate in
    that order, like SQL MERGE's first-match-wins).

    Plan (shuffle-bounded at 100 TB):
    1. metadata prune: candidate files = live files whose key-column stats
       intersect the source's key min/max (computed by one tiny Spark agg);
    2. one join job over candidates ⨝ source (AQE decides broadcast vs SMJ);
    3. rewritten candidates + untouched files + appended new-key rows commit
       as one snapshot.

    Source columns missing from the table schema are ignored; table columns
    missing from the source are filled with NULL — including on matched
    rows under ``when_matched_update="*"`` (the update writes the source's
    NULL). Pass an explicit update dict to leave unmentioned columns alone.

    COST NOTE: a NOT MATCHED BY SOURCE clause disables the key-range prune —
    every live data file is a candidate, because any file might hold a key
    the source lacks (stats intersection proves presence, never absence).
    That full-table rewrite potential is inherent to the full-sync shape,
    not an implementation artifact; run it at reconciliation cadence, not
    per-batch.
    """
    from pyspark.sql import Column

    md = table.metadata
    entry_schema = schema = md.current_schema
    for k in on:
        if schema.find_field(k) is None:
            raise ValidationError(f"merge key {k!r} not in schema")
    if isinstance(when_matched_update, dict):
        for c in when_matched_update:
            if schema.find_field(c) is None:
                raise ValidationError(f"unknown column {c!r} in when_matched_update")
    if when_matched_delete is True and when_matched_update:
        raise ValidationError(
            "choose either matched-update or matched-delete (an unconditional "
            "delete consumes every matched row; pass a Column condition to "
            "combine delete + update)")
    nmbs_delete = when_not_matched_by_source_delete
    nmbs_update = when_not_matched_by_source_update
    if nmbs_delete is True and nmbs_update:
        raise ValidationError(
            "choose either not-matched-by-source delete or update (an "
            "unconditional delete consumes every such row; pass a Column "
            "condition to combine them)")
    if nmbs_update:
        for c in nmbs_update:
            if schema.find_field(c) is None:
                raise ValidationError(
                    f"unknown column {c!r} in when_not_matched_by_source_update")
    has_nmbs = isinstance(nmbs_delete, Column) or nmbs_delete is True or bool(nmbs_update)

    def build_and_commit(source=source, on=on,
                         when_matched_update=when_matched_update,
                         nmbs_update=nmbs_update):
        # re-entered by _retrying after a conflict: metadata (and thus the
        # schema, live files, and candidate prune) recompute from the
        # reloaded state; the ORIGINAL source df re-aligns each attempt.
        # pre_commit_check re-runs per attempt against the reloaded state
        # (the streaming sink's replayed-batch recheck) — a False abandons
        # the merge without a commit.
        if pre_commit_check is not None and not pre_commit_check():
            return None
        # User-supplied names (keys, assignment dicts, source columns) were
        # bound against the ENTRY schema — re-express them in the reloaded
        # schema's names via field ids, so a concurrent rename follows the
        # field instead of NULLing it out of the rewrite.
        md = table.metadata
        schema = md.current_schema
        mapping = _rebind_to_current(
            entry_schema, schema,
            list(on)
            + (list(when_matched_update) if isinstance(when_matched_update, dict) else [])
            + (list(nmbs_update) if nmbs_update else []),
            "merge")
        on = [mapping.get(k, k) for k in on]
        if isinstance(when_matched_update, dict):
            when_matched_update = {mapping.get(c, c): v for c, v in when_matched_update.items()}
        if nmbs_update:
            nmbs_update = {mapping.get(c, c): v for c, v in nmbs_update.items()}

        def _src_name(f):
            # source columns carry entry-schema names; accept the current
            # name too so a no-race call or a source built post-rename works
            fe = entry_schema.find_field_by_id(f.field_id)
            if fe is not None and fe.name in source.columns:
                return fe.name
            if f.name in source.columns:
                return f.name
            return None

        missing_keys = [k for k in on if _src_name(schema.find_field(k)) is None]
        if missing_keys:
            raise ValidationError(f"source missing key columns {missing_keys}")
        from ..schema import to_spark_type as _tst

        source = source.select(*[
            (F.col(_src_name(f)) if _src_name(f) is not None else F.lit(None)).cast(_tst(f.type)).alias(f.name)
            for f in schema.fields
        ])

        # 1. prune candidates by source key ranges (one small agg job);
        # NULL-safe: if the source contains NULL keys, files holding NULL-key
        # rows must stay candidates (eqNullSafe matches NULL = NULL).
        # A NOT MATCHED BY SOURCE clause must see EVERY target row (stats can
        # prove a file holds source keys, never that it holds only them), so
        # the prune is disabled and all live data files become candidates.
        # cardinality pre-signal, free-riding on the single source agg pass:
        # count vs distinct key tuples (struct() so null-bearing tuples still
        # count — countDistinct would skip bare-null args). Only when the
        # source actually repeats a key does the precise matched-row check
        # below spend a second job.
        _dup_aggs = [
            F.count(F.lit(1)).alias("_src_n"),
            F.count_distinct(F.struct(*[F.col(k) for k in on])).alias("_src_keys"),
        ]
        if has_nmbs:
            candidates = [e for e in table.live_entries() if e.content == CONTENT_DATA]
            untouched = []
            _card = source.agg(*_dup_aggs).collect()[0]
        else:
            key_bounds = _card = source.agg(
                *[F.min(k).alias(f"_min_{k}") for k in on],
                *[F.max(k).alias(f"_max_{k}") for k in on],
                *[F.sum(F.when(F.col(k).isNull(), 1).otherwise(0)).alias(f"_nulls_{k}") for k in on],
                *_dup_aggs,
            ).collect()[0]
            from ..expr import ALWAYS_TRUE as _TRUE
            from ..expr import and_, col as ecol, is_null as eis_null, or_

            prune_expr = _TRUE
            for k in on:
                lo, hi = key_bounds[f"_min_{k}"], key_bounds[f"_max_{k}"]
                has_nulls = (key_bounds[f"_nulls_{k}"] or 0) > 0
                if lo is not None and hi is not None:
                    rng = ecol(k).between(lo, hi)
                    prune_expr = and_(prune_expr, or_(rng, eis_null(k)) if has_nulls else rng)
                elif has_nulls:
                    prune_expr = and_(prune_expr, eis_null(k))
            candidates, untouched = _split_candidates(table, prune_expr)

        target = read_files(table, scan_tasks(candidates, _other_deletes(table)), schema)
        if target is None:
            target = empty_frame(table.spark, table.spark_schema())

        # SQL MERGE cardinality rule: multiple source rows matching ONE
        # target row is an error, not a row multiplication (the full-outer
        # join would duplicate the matched target row once per source
        # duplicate). Duplicate keys that match no target row remain
        # legal — each NOT MATCHED row inserts, as in SQL.
        if _card["_src_n"] != _card["_src_keys"] and candidates:
            dup_keys = (source.groupBy(*[F.col(k) for k in on])
                        .agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") > 1))
            offending = (target.join(
                F.broadcast(dup_keys),
                on=[target[k].eqNullSafe(dup_keys[k]) for k in on], how="inner")
                .select(*[dup_keys[k] for k in on]).limit(5).collect())
            if offending:
                raise ValidationError(
                    "MERGE: multiple source rows match the same target row for "
                    f"key(s) {[tuple(r) for r in offending]}; de-duplicate the "
                    "source on the merge keys first")

        # 2. the join: null-safe equality on keys (fix of SURVEY §2.6.6);
        # explicit _exists flags make matched/not-matched tests null-proof
        target = target.withColumn("_t_exists", F.lit(True))
        source = source.withColumn("_s_exists", F.lit(True))
        joined = target.alias("t").join(source.alias("s"), on=[target[k].eqNullSafe(source[k]) for k in on], how="full_outer")

        out_cols = []
        for f in schema.fields:
            t_c, s_c = F.col(f"t.{f.name}"), F.col(f"s.{f.name}")
            if when_matched_update == "*":
                val = F.when(F.col("t._t_exists").isNotNull() & F.col("s._s_exists").isNotNull(), s_c) \
                       .when(F.col("t._t_exists").isNotNull(), t_c).otherwise(s_c)
            elif isinstance(when_matched_update, dict) and f.name in when_matched_update:
                from pyspark.sql import Column as _C

                upd = when_matched_update[f.name]
                upd_c = upd if isinstance(upd, _C) else F.lit(upd)
                val = F.when(F.col("t._t_exists").isNotNull() & F.col("s._s_exists").isNotNull(), upd_c) \
                       .when(F.col("t._t_exists").isNotNull(), t_c).otherwise(s_c)
            else:
                val = F.when(F.col("t._t_exists").isNotNull(), t_c).otherwise(s_c)
            if nmbs_update and f.name in nmbs_update:
                from pyspark.sql import Column as _C

                u = nmbs_update[f.name]
                u_c = u if isinstance(u, _C) else F.lit(u)
                val = F.when(
                    F.col("t._t_exists").isNotNull() & F.col("s._s_exists").isNull(), u_c
                ).otherwise(val)
            out_cols.append(val.cast(_tst(f.type)).alias(f.name))

        result = joined
        matched = F.col("t._t_exists").isNotNull() & F.col("s._s_exists").isNotNull()
        if isinstance(when_matched_delete, Column):
            # conditional delete: NULL condition = no match = keep (SQL MERGE
            # WHEN MATCHED AND cond semantics)
            result = result.filter(~(matched & F.coalesce(when_matched_delete, F.lit(False))))
        elif when_matched_delete:
            result = result.filter(~matched)
        nmbs_rows = F.col("t._t_exists").isNotNull() & F.col("s._s_exists").isNull()
        if isinstance(nmbs_delete, Column):
            result = result.filter(~(nmbs_rows & F.coalesce(nmbs_delete, F.lit(False))))
        elif nmbs_delete:
            result = result.filter(~nmbs_rows)
        if not when_not_matched_insert:
            result = result.filter(F.col("t._t_exists").isNotNull())
        result = result.select(*out_cols)

        new_files = write_data_files(table, result)
        remaining_deletes = _deletes_still_needed(table, untouched)
        return table._commit_snapshot(OP_OVERWRITE, untouched + remaining_deletes + new_files,
                                      summary_extra=summary_extra,
                                      properties_extra=properties_extra)

    return table._retrying(build_and_commit)


def scd2_apply(table, updates: DataFrame, key_cols: list[str], *,
               seq_col: str, attr_cols: list[str] | None = None,
               start_col: str = "valid_from_seq",
               end_col: str = "valid_to_seq",
               current_col: str = "is_current",
               drop_unchanged: bool = False):
    """Slowly-Changing-Dimension TYPE 2 maintenance: apply a batch of
    versioned updates ``(key..., attrs..., seq)`` to a history table whose
    rows carry ``[start_col, end_col)`` validity sequence bounds and an
    ``is_current`` flag. One call = ONE snapshot: the key's open row closes
    at the batch's first new sequence and every update inserts a version
    row, chained within the batch by ``lead(seq)`` — the dimension-history
    shape training pipelines join facts against as-of a sequence.

    ``drop_unchanged=True`` collapses versions whose attributes are
    null-safe-equal to their sequence-PREDECESSOR (the current row heads
    the comparison chain), so no-op updates create no versions.

    Contract: ``seq`` values must be unique per key within the batch
    (raises) and newer than the key's current ``start_col`` across batches
    (older batches are ignored for closing and no-op on replay — a full
    replay of an applied batch commits nothing new, which makes the op
    safe under at-least-once delivery).

    Scale shape: the per-key window runs over the UPDATE batch (not the
    table); the close-set is one join of current rows against per-key batch
    minima; everything lands in a single MERGE whose candidate files are
    stats-pruned by the key range. No per-row Python anywhere."""
    from pyspark.sql import Window

    book = {start_col, end_col, current_col}
    tcols = [f.name for f in table.schema.fields]
    for c in (start_col, end_col, current_col):
        if c not in tcols:
            raise ValidationError(f"scd2 bookkeeping column {c!r} not in table")
    if attr_cols is None:
        attr_cols = [c for c in tcols if c not in book and c not in key_cols]
    dup = (updates.groupBy(*key_cols, seq_col).count()
           .filter(F.col("count") > 1).count())
    if dup:
        raise ValidationError(
            f"scd2_apply: {dup} duplicate (key, {seq_col}) pairs in the batch")

    cand = updates.select(
        *key_cols, *attr_cols, F.col(seq_col).cast("long").alias(start_col))
    cur = table.to_df().filter(F.col(current_col))
    if drop_unchanged:
        exist = cur.select(*key_cols, *attr_cols, start_col).withColumn(
            "_scd_exist", F.lit(True))
        combined = exist.unionByName(cand.withColumn("_scd_exist", F.lit(False)))
        w_lag = Window.partitionBy(*key_cols).orderBy(start_col)
        # a chain-head row (no predecessor) is never a no-op: without this,
        # a brand-new key whose attrs are ALL NULL null-safe-equals the
        # lag's NULLs and the key's first version silently vanishes
        changed = F.lag(F.lit(1)).over(w_lag).isNull()
        for a in attr_cols:
            changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w_lag))
        cand = (combined
                .withColumn("_chg", changed)
                .filter(F.col("_scd_exist")
                        | F.coalesce(F.col("_chg"), F.lit(True)))
                .filter(~F.col("_scd_exist"))
                .drop("_scd_exist", "_chg"))

    w = Window.partitionBy(*key_cols).orderBy(start_col)
    versions = (cand
                .withColumn(end_col, F.lead(start_col).over(w).cast("long"))
                .withColumn(current_col, F.col(end_col).isNull()))

    firsts = versions.groupBy(*key_cols).agg(F.min(start_col).alias("_scd_new_end"))
    # close-set join is null-safe, like merge's key handling and the window
    # partitioning above — a NULL-keyed dimension's open row must close too,
    # or the exactly-one-open-row invariant scd2_lookup depends on breaks
    cur_open = cur.select(*key_cols, start_col)
    closes = (cur_open
              .join(firsts, [cur_open[k].eqNullSafe(firsts[k]) for k in key_cols])
              # a replayed/stale batch (seq <= the open row's start) must
              # not rewire history: only genuinely newer versions close it
              .filter(F.col("_scd_new_end") > cur_open[start_col])
              .select(*[cur_open[k].alias(k) for k in key_cols],
                      cur_open[start_col].alias(start_col), "_scd_new_end"))
    from ..schema import to_spark_type

    spark_type = {f.name: to_spark_type(f.type) for f in table.schema.fields}
    null_attrs = [F.lit(None).cast(spark_type[a]).alias(a) for a in attr_cols]
    # close rows carry the NEW END in end_col itself — no carrier columns
    # (merge aligns the source to the table schema); the matched-update
    # rule "end = coalesce(s.end, t.end)" then covers every case: a close
    # row sets the bound, a REPLAYED intermediate version rewrites its own
    # identical bound, and a replayed open version (s.end null) leaves a
    # later batch's close untouched — no reopen on at-least-once delivery
    src = versions.unionByName(
        closes.select(
            *key_cols, *null_attrs, F.col(start_col),
            F.col("_scd_new_end").alias(end_col),
            F.lit(False).alias(current_col)))
    final_end = F.coalesce(F.col(f"s.{end_col}"), F.col(f"t.{end_col}"))
    return merge(
        table, src, [*key_cols, start_col],
        when_matched_update={
            end_col: final_end,
            current_col: final_end.isNull(),
        },
        when_not_matched_insert=True,
    )

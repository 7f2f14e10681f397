"""Incremental and changelog (CDC) reads over the snapshot lineage.

The reference has no incremental surface at all — its scan always reads one
resolved snapshot (reference: table/scan.go:80-98). These are the two read
shapes the Iceberg ecosystem layers on top of the same metadata tree, and
that a training-data pipeline consuming a continuously-appended table needs:

- ``incremental_append_scan``: rows ADDED between two snapshots (Iceberg's
  ``start-snapshot-id``/``end-snapshot-id`` read). Planning walks the range
  with ``metadata.snapshots_between`` and takes each snapshot's appended
  data files by ``metadata.appended_entries`` — the append-only rule the
  snapshot stream source applies too — then does one read through the scan
  reader (``scan.read_files``). No shuffle at all.

- ``changelog_scan``: row-level inserts AND deletes per snapshot (Iceberg's
  ``create_changelog_view`` procedure), from each snapshot's
  ``metadata.snapshot_delta`` against its parent. Copy-on-write rewrites copy every
  surviving row into new files, so the raw file diff shows them as
  delete+insert pairs; carryover elimination removes those pairs with two
  ``exceptAll`` passes — multiset semantics, fully distributed, no driver
  row materialization. Merge-on-read delete files are resolved to the rows
  they suppress by replaying them against the files that were live when the
  delete committed.

At 100 TB the scan cost is proportional to the files touched by the snapshot
range, never the table size; the only shuffles are the exceptAll diffs in
the CoW changelog path, each bounded by the size of one snapshot's rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..errors import ValidationError
from ..schema import FixedType, PrimitiveType, to_spark_type
from .metadata import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    DataFileEntry,
    appended_entries,
    parent_of,
    snapshot_delta,
    snapshots_between,
    writer_schema,
)
from .scan import (
    POS_DELETE_FILE_COL,
    _file_key,
    empty_frame,
    read_files,
    read_tombstones,
    scan_tasks,
)

CHANGE_TYPE_COL = "_change_type"
CHANGE_ORDINAL_COL = "_change_ordinal"


def incremental_append_scan(
    table,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    ignore_non_append: bool = False,
) -> DataFrame:
    """Rows appended in (from, to]. Raises on overwrite/delete/replace
    snapshots in the range (their row-level effect is not an append) unless
    ``ignore_non_append``, which skips them — Iceberg's incremental append
    scan contract."""
    spark = table.spark
    md = table.metadata
    added_entries = [
        e for snap in snapshots_between(md, from_snapshot_id, to_snapshot_id)
        for e in appended_entries(md, snap, table.manifest_entries, ignore_non_append)]
    df = read_files(table, scan_tasks(added_entries, []), md.current_schema)
    if df is None:
        return empty_frame(spark, to_spark_type(md.current_schema.struct))
    return df


def _bound_key(schema, fid: int, v):
    """Decode an ``encode_stat`` bound (write.py:362-392) into a value whose
    </> order matches the column's REAL order, or None to refuse (caller
    keeps the file). Ints/bools/dates/timestamps ride as ints; decimals as
    unscaled ints (str(Decimal) would sort '200' < '99' lexicographically);
    genuine strings and hex-encoded binary/fixed are lexicographic by
    construction; floats are NaN-unsafe (NaN hides from min/max, so a bound
    could lose rows) and refuse."""
    f = schema.find_field_by_id(fid)
    if f is None:  # dropped/unknown field: can't reason
        return None
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, str) and (
            isinstance(f.type, FixedType)
            or (isinstance(f.type, PrimitiveType)
                and f.type.name in ("string", "binary"))):
        return v
    return None  # floats and anything unexpected: keep


def files_that_may_lose_rows(
    schema, new_dels: list[DataFileEntry], live_data: list[DataFileEntry],
) -> list[DataFileEntry]:
    """The changelog's eq-delete file pruner: equality deletes can hit any
    applicable older file, but the delete FILE's own column stats bound its
    key values — a data file whose key range cannot overlap any new delete's
    key range contributes identical rows to the before and after suppression
    reads, so it never transitions live→dead and can be skipped. At 100 TB
    this bounds a CDC read's I/O by the files OVERLAPPING the delete, never
    the table size. Conservative on every doubt: missing bounds, type
    mismatches, and float bounds (NaN sorts above every double and hides
    from min/max, so pruning on them could lose rows) all KEEP the file."""

    def _may_lose_rows(d: DataFileEntry) -> bool:
        for e in new_dels:
            if e.content == CONTENT_POSITION_DELETES:
                if e.sequence_number >= d.sequence_number:
                    return True
                continue
            if e.sequence_number <= d.sequence_number:
                continue
            if not e.equality_ids:
                return True  # malformed eq-delete: no disproof
            overlap = True
            # restrict the disproof to the delete's KEY columns: only
            # equality_ids participate in the match, so a disjoint non-key
            # payload column must never prune (the contract is enforced
            # where it is consumed, not implied by the writer)
            for fid in e.equality_ids:
                ds = e.column_stats.get(fid)
                s = d.column_stats.get(fid)
                if not ds or not s:
                    continue
                # a NULL delete key matches NULL data keys null-safely (the
                # engine's eq-delete rule), so this fid can only disprove a
                # match when a null-null pairing is provably impossible
                dn, sn = ds.get("null_count"), s.get("null_count")
                if (dn is None or dn > 0) and (sn is None or sn > 0):
                    continue
                lo_d, hi_d = _bound_key(schema, fid, ds.get("min")), _bound_key(schema, fid, ds.get("max"))
                lo_s, hi_s = _bound_key(schema, fid, s.get("min")), _bound_key(schema, fid, s.get("max"))
                if None in (lo_d, hi_d, lo_s, hi_s):
                    continue
                try:
                    if lo_s > hi_d or hi_s < lo_d:
                        overlap = False
                        break
                except TypeError:
                    continue
            if overlap:
                return True
        return False

    return [d for d in live_data if _may_lose_rows(d)]


def changelog_scan(
    table,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level change stream for (from, to]: current-schema columns plus
    ``_change_type`` ('insert' | 'delete') and ``_change_ordinal`` (0-based
    position of the snapshot within the range). CoW carryover rows are
    eliminated per snapshot; MoR delete files are replayed against the data
    files that were live at commit time."""
    spark = table.spark
    md = table.metadata
    schema = md.current_schema
    chain = snapshots_between(md, from_snapshot_id, to_snapshot_id)

    parts: list[DataFrame] = []
    for ordinal, snap in enumerate(chain):
        added, removed = snapshot_delta(md, snap, table.manifest_entries)
        # removed files are read with the PARENT's MoR deletes applied:
        # a compaction that materializes delete files also drops them in
        # the same snapshot, and the already-suppressed rows must not
        # resurface as phantom deletes (they were never logically live)
        parent = parent_of(md, snap)
        parent_deletes = [] if parent is None else [
            e for e in table.manifest_entries(parent) if e.content != CONTENT_DATA]
        ins = read_files(table, scan_tasks(
            [e for e in added if e.content == CONTENT_DATA], []), schema)
        dels = read_files(table, scan_tasks(
            [e for e in removed if e.content == CONTENT_DATA], parent_deletes), schema)
        del_parts: list[DataFrame] = [] if dels is None else [dels]

        # MoR: delete files added in this snapshot suppress rows of files
        # that remain live — resolve them to concrete rows as the DIFF of
        # suppression states: rows visible under the PARENT's delete files
        # but not under this snapshot's. A row counts as deleted exactly
        # when it transitions live → dead, which makes the read robust to
        # duplicate tombstones — the spec allows a position (or key) to be
        # listed by multiple delete files, so replaying each delete file on
        # its own would report such a row deleted once per file. Collected
        # BEFORE the insert/delete netting below: when one diff window
        # contains both a data file and a delete file over it (an
        # expired-gap-compacted lineage), the inserted-then-deleted rows
        # must net to ZERO, not surface as an insert+delete pair at the
        # same ordinal.
        new_dels = [e for e in added if e.content != CONTENT_DATA]
        if new_dels:
            live_data = [e for e in table.manifest_entries(snap)
                         if e.content == CONTENT_DATA]
            if not any(e.content == CONTENT_EQUALITY_DELETES for e in new_dels):
                # position deletes name their target files — prune the
                # before/after read to just those (an equality delete can
                # hit any older file, so bounds do the pruning below)
                hit = {r[0] for r in read_tombstones(table, new_dels)
                       .select(POS_DELETE_FILE_COL).distinct().collect()}
                live_data = [e for e in live_data
                             if _file_key(table.location, e.file_path) in hit]
            else:
                live_data = files_that_may_lose_rows(schema, new_dels, live_data)
            cur_deletes = [e for e in table.manifest_entries(snap)
                           if e.content != CONTENT_DATA]
            before = read_files(table, scan_tasks(live_data, parent_deletes), schema)
            after = read_files(table, scan_tasks(live_data, cur_deletes), schema)
            if before is not None:  # before and after read the same files
                del_parts.append(before.exceptAll(after))

        del_all = del_parts[0] if del_parts else None
        for p in del_parts[1:]:
            del_all = del_all.unionByName(p)
        if ins is not None and del_all is not None:
            # net rows appearing on both sides of ONE diff window: CoW
            # rewrite carryover AND same-window insert+MoR-delete pairs
            ins_net = ins.exceptAll(del_all)
            del_net = del_all.exceptAll(ins)
        else:
            ins_net, del_net = ins, del_all

        for change_type, df in (("insert", ins_net), ("delete", del_net)):
            if df is not None:
                parts.append(df.withColumn(CHANGE_TYPE_COL, F.lit(change_type))
                             .withColumn(CHANGE_ORDINAL_COL, F.lit(ordinal)))

    if not parts:
        return (empty_frame(spark, to_spark_type(schema.struct))
                .withColumn(CHANGE_TYPE_COL, F.lit(""))
                .withColumn(CHANGE_ORDINAL_COL, F.lit(0)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def incremental_join_refresh(
    prev_view: DataFrame,
    table_a,
    table_b,
    keys: list[str],
    *,
    from_a: int,
    from_b: int,
    to_a: int | None = None,
    to_b: int | None = None,
) -> DataFrame:
    """Incremental maintenance of a JOIN view M = A ⋈ B over two
    append-only engine tables (delta-join IVM):

        M1 = M0 ∪ (ΔA ⋈ B1) ∪ (A0 ⋈ ΔB)

    where ΔA/ΔB are the tables' incremental append scans over
    (from, to], A0 is A time-traveled to ``from_a``, and B1 is B at
    ``to_b`` — the ΔA ⋈ ΔB cross term is counted exactly once because the
    ΔA leg joins the POST-delta B while the ΔB leg joins the PRE-delta A.
    Append-only contract: the underlying incremental scans raise on
    overwrite/delete/replace snapshots in the range (a view over mutable
    bases needs the row-level changelog and counting semantics instead).

    Scale shape (the IVM promise): refresh cost rides the DELTAS — the
    two join legs each pair one delta against one base side, so AQE
    broadcasts the (small) delta and the base is scanned once without
    ever recomputing M0's |A| x |B| join; M0 itself is unioned through
    untouched."""
    to_a = to_a if to_a is not None else table_a.current_snapshot().snapshot_id
    to_b = to_b if to_b is not None else table_b.current_snapshot().snapshot_id
    da = incremental_append_scan(table_a, from_a, to_a)
    db = incremental_append_scan(table_b, from_b, to_b)
    a0 = table_a.scan().use_snapshot(from_a).to_df()
    b1 = table_b.scan().use_snapshot(to_b).to_df()
    delta = da.join(b1, keys).unionByName(a0.join(db, keys))
    return prev_view.unionByName(delta)


def incremental_join_refresh_changelog(
    prev_view: DataFrame,
    table_a,
    table_b,
    keys: list[str],
    *,
    from_a: int,
    from_b: int,
    to_a: int | None = None,
    to_b: int | None = None,
) -> DataFrame:
    """Incremental maintenance of a JOIN view M = A ⋈ B over MUTABLE bases
    (counting-semantics delta-join IVM): the append-only form above raises
    on deletes/updates/overwrites in the range; this one feeds the
    CHANGELOG through the join instead, so any CRUD history maintains the
    view exactly.

    Derivation (signed multisets, insert = +1, delete = −1):

        A1 = A0 + δA,  B1 = B0 + δB
        M1 = A1 ⋈ B1 = M0 + (δA ⋈ B1) + (A0 ⋈ δB)

    — the δA ⋈ δB cross term is counted exactly once because the δA leg
    joins the POST-delta B while the δB leg joins the PRE-delta A; each
    joined pair carries its delta row's sign. Updates are delete+insert
    pairs in the changelog, maintenance replaces net to zero, so any mix
    of CRUD and compaction in the range is handled.

    The signed delta is then merged into M0 with counting semantics. To
    keep the refresh delta-proportional, M0 is split on the delta's join
    keys: rows whose key appears in neither δA nor δB pass through
    UNTOUCHED (one broadcast anti-join, no aggregation), and only the
    touched slice unions with the signed delta into a count-merge
    (group → sum signs → drop non-positive → re-expand). At 100 TB the
    join legs broadcast the deltas against one base scan each, and the
    count-merge shuffles only rows sharing a key with a changed row —
    never the whole view."""
    SIGN, CNT = "_ivm_sign", "_ivm_cnt"
    to_a = to_a if to_a is not None else table_a.current_snapshot().snapshot_id
    to_b = to_b if to_b is not None else table_b.current_snapshot().snapshot_id
    sign = (F.when(F.col(CHANGE_TYPE_COL) == "insert", F.lit(1))
            .otherwise(F.lit(-1)).alias(SIGN))
    da = changelog_scan(table_a, from_a, to_a).select("*", sign) \
        .drop(CHANGE_TYPE_COL, CHANGE_ORDINAL_COL)
    db = changelog_scan(table_b, from_b, to_b).select("*", sign) \
        .drop(CHANGE_TYPE_COL, CHANGE_ORDINAL_COL)
    a0 = table_a.scan().use_snapshot(from_a).to_df()
    b1 = table_b.scan().use_snapshot(to_b).to_df()
    out_cols = prev_view.columns
    delta = (da.join(b1, keys).select(*out_cols, SIGN)
             .unionByName(a0.join(db, keys).select(*out_cols, SIGN)))
    delta_keys = da.select(*keys).unionByName(db.select(*keys)).distinct()
    untouched = prev_view.join(F.broadcast(delta_keys), keys, "left_anti")
    touched = prev_view.join(F.broadcast(delta_keys), keys, "left_semi")
    merged = (touched.withColumn(SIGN, F.lit(1)).unionByName(delta)
              .groupBy(*out_cols).agg(F.sum(SIGN).alias(CNT))
              .filter(F.col(CNT) > 0)
              .select(*out_cols,
                      F.explode(F.sequence(F.lit(1), F.col(CNT))).alias("_i"))
              .select(*out_cols))
    return untouched.unionByName(merged)


def incremental_agg_refresh_changelog(
    prev_agg: DataFrame,
    table,
    group_keys: list[str],
    *,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    sum_cols: dict[str, "str | F.Column"] | None = None,
    count_col: str | None = None,
    agg_fn=None,
) -> DataFrame:
    """Incremental maintenance of a GROUP BY view over ONE mutable base
    table — the most common materialized view in practice. The append-only
    form (``incremental_agg_refresh`` in the workload) merges partial
    aggregates of the incremental scan; this one feeds the row-level
    CHANGELOG instead, so any CRUD history (update, delete, upsert, MoR,
    compaction) in (from, to] maintains the view exactly.

    Two maintenance strategies, both delta-proportional:

    - **Algebraic** (``count_col`` + ``sum_cols``, for count/sum/avg-style
      views): the signed changelog (+1 insert / −1 delete) aggregates to
      per-group deltas — d_count = Σ sign, d_sum = Σ sign·x — which merge
      into the old aggregate row by ADDITION; a group whose merged count
      reaches zero died and is dropped, a delta group with no old row is
      born. No base-table scan at all: refresh cost is one aggregate over
      the changelog plus a broadcast-split of the view on touched keys.
      ``count_col`` is REQUIRED here — count is what detects group death.

    - **Generic** (``agg_fn``, for non-additive aggregates: min/max,
      distinct counts, percentiles): touched groups are RE-AGGREGATED from
      the base at ``to`` filtered to the touched keys (one broadcast
      semi-join that scan pruning can push down), untouched view rows pass
      through without aggregating.

    Updates appear as delete+insert pairs in the changelog and
    maintenance REPLACEs net to zero, so both strategies are exact over
    any history. NULL group keys are maintained as the real group they
    are (all key matching is null-safe). Two algebraic-path nuances:
    (1) sums merge with a 0 identity, so a group whose every remaining
    input is NULL reports sum 0 where SQL's one-shot SUM reports NULL;
    (2) NaN/Inf are ABSORBING under addition — once one reaches a group's
    running sum, subtracting it back on delete never restores the finite
    value. ``sum_cols`` values may be Column expressions, so guard
    non-finite sources (``F.when(F.isnan(c), 0).otherwise(c)``) or use
    ``agg_fn``, which re-aggregates and has neither nuance. At 100 TB
    only rows sharing a group key with a changed row ever shuffle; the
    view itself is never re-aggregated."""
    SIGN, CNT = "_ivm_sign", "_ivm_cnt"
    to_id = (to_snapshot_id if to_snapshot_id is not None
             else table.current_snapshot().snapshot_id)
    ch = changelog_scan(table, from_snapshot_id, to_id)
    sign = (F.when(F.col(CHANGE_TYPE_COL) == "insert", F.lit(1))
            .otherwise(F.lit(-1)))
    delta_keys = ch.select(*group_keys).distinct()

    # NULL is a REAL group under groupBy, so every key match here must be
    # null-safe: a plain name-list equi-join would route a NULL-keyed view
    # row to `untouched` (stale) AND re-emit the NULL group from the delta
    # side — one group, two rows. Frames are alias-qualified because the
    # view, the delta keys, and the delta aggregate can share plan lineage
    # (all derive from the same table's files — self-join ambiguity).
    L, R = "_ivm_l", "_ivm_r"

    def _nsafe_cond():
        cond = F.col(f"{L}.{group_keys[0]}").eqNullSafe(F.col(f"{R}.{group_keys[0]}"))
        for k in group_keys[1:]:
            cond = cond & F.col(f"{L}.{k}").eqNullSafe(F.col(f"{R}.{k}"))
        return cond

    bkeys = F.broadcast(delta_keys.alias(R))
    untouched = prev_agg.alias(L).join(bkeys, _nsafe_cond(), "left_anti")
    touched = prev_agg.alias(L).join(bkeys, _nsafe_cond(), "left_semi")

    if agg_fn is not None:
        base = table.scan().use_snapshot(to_id).to_df()
        # a time-travel read pins the SNAPSHOT's schema, but group_keys and
        # the delta keys carry CURRENT names (the changelog's schema) — a
        # rename landing after ``to`` would otherwise fail the key match;
        # align by field id, the stable identity
        snap = table.snapshot_by_id(to_id)
        md = table.metadata
        schema_at = writer_schema(md, snap.schema_id) or md.current_schema
        for f_cur in md.current_schema.fields:
            old = schema_at.find_field_by_id(f_cur.field_id)
            if (old is not None and old.name != f_cur.name
                    and old.name in base.columns):
                base = base.withColumnRenamed(old.name, f_cur.name)
        base_touched = base.alias(L).join(bkeys, _nsafe_cond(), "left_semi")
        return untouched.unionByName(agg_fn(base_touched))

    if not count_col:
        raise ValidationError(
            "algebraic aggregate IVM needs count_col (it detects group "
            "death); pass agg_fn for non-additive aggregates")
    sum_cols = {out: (F.col(src) if isinstance(src, str) else src)
                for out, src in (sum_cols or {}).items()}
    d_aggs = [F.sum(sign).alias(count_col),
              *(F.sum(sign * src).alias(out)
                for out, src in sum_cols.items())]
    d = ch.groupBy(*group_keys).agg(*d_aggs)
    out_cols = prev_agg.columns

    def _l(c):
        return F.col(f"{L}.{c}")

    def _r(c):
        return F.col(f"{R}.{c}")

    merged = (touched.alias(L).join(d.alias(R), _nsafe_cond(), "full_outer")
              .select(*(F.coalesce(_l(k), _r(k)).alias(k)
                        for k in group_keys),
                      (F.coalesce(_l(count_col), F.lit(0))
                       + F.coalesce(_r(count_col), F.lit(0))).alias(CNT),
                      *(F.coalesce(_l(c), F.lit(0) if c in sum_cols
                                   else F.lit(None)).alias(f"_old_{c}")
                        for c in out_cols if c not in group_keys
                        and c != count_col),
                      *(F.coalesce(_r(c), F.lit(0)).alias(f"_d_{c}")
                        for c in sum_cols))
              .filter(F.col(CNT) > 0))
    sel = []
    for c in out_cols:
        if c in group_keys:
            sel.append(F.col(c))
        elif c == count_col:
            sel.append(F.col(CNT).cast("long").alias(c))
        elif c in sum_cols:
            sel.append((F.col(f"_old_{c}") + F.col(f"_d_{c}")).alias(c))
        else:
            raise ValidationError(
                f"view column {c!r} is neither a group key, the count, nor "
                "an additive sum; use agg_fn for non-additive aggregates")
    return untouched.unionByName(merged.select(*sel))

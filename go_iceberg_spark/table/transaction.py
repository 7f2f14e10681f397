"""Multi-operation transactions and bulk writers.

Re-expresses the reference's transaction surface (reference: table/table.go:
154-254 — staged TableUpdates + requirements, committed once) and BulkWriter
(reference: table/insert.go:371-461 — accumulate data files across writes,
commit once, abort deletes orphans):

- ``Transaction``: stage appends / deletes / updates; ONE snapshot commits
  all of them atomically (readers never see partial state);
- ``BulkWriter``: accumulate data files across many ``write()`` calls with an
  auto-commit row threshold; ``abort()`` removes orphaned files.

Equality-delete writes live here too — the reference declares but never
implements them (reference: table/delete.go:494-501 returns "not yet fully
implemented"); here they are real: the key rows are written as an equality-
delete file whose ``equality_ids`` name the key fields, and the scan side
anti-joins them against older-sequence data files (scan.py).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from ..errors import ValidationError
from ..expr import Expression
from .metadata import (
    CONTENT_EQUALITY_DELETES,
    OP_DELETE,
    OP_OVERWRITE,
    DataFileEntry,
    UNPARTITIONED,
)
from .write import write_data_files


class Transaction:
    """Stage multiple operations, commit one snapshot
    (reference: table/table.go:154-176)."""

    def __init__(self, table):
        self.table = table
        self._staged_adds: list[DataFileEntry] = []
        # (stage-time schema, filter) pairs — names re-bind by field id at commit
        self._staged_delete_filters: list[tuple[Any, Expression]] = []
        self._committed = False

    def append(self, df: DataFrame) -> "Transaction":
        self._staged_adds += write_data_files(self.table, df)
        return self

    def delete(self, filter_: Expression) -> "Transaction":
        from .mutate import _rebind_filter

        # bind names to field ids NOW (eager stale-name validation); the
        # commit retry re-binds onto whatever schema wins the race
        schema = self.table.metadata.current_schema
        _rebind_filter(schema, schema, filter_, "transaction delete filter")
        self._staged_delete_filters.append((schema, filter_))
        return self

    def commit(self):
        from ..expr import or_
        from .mutate import _rebind_filter, rewrite_for_delete

        if self._committed:
            raise ValidationError("transaction already committed")
        op = (OP_OVERWRITE if self._staged_adds and self._staged_delete_filters
              else (OP_DELETE if self._staged_delete_filters else "append"))

        def build_and_commit():
            # re-evaluated on each retry against the RELOADED metadata, so
            # a concurrent commit between stage and commit neither kills the
            # transaction nor orphans its staged files; delete filters re-run
            # so concurrently added matching files are rewritten too
            if self._staged_delete_filters:
                # each filter re-binds from its STAGE-time schema to the
                # reloaded current schema by field id, so a rename between
                # stage and commit (or during a retry race) follows the field
                cur = self.table.metadata.current_schema
                combined = or_(*[
                    _rebind_filter(entry_schema, cur, f, "transaction delete filter")
                    for entry_schema, f in self._staged_delete_filters])
                entries = rewrite_for_delete(self.table, combined)
            else:
                entries = self.table.live_entries()
            return self.table._commit_snapshot(op, entries + self._staged_adds)

        snap = self.table._retrying(build_and_commit)
        self._committed = True
        return snap


class BulkWriter:
    """Accumulate data files across writes; commit once
    (reference: table/insert.go:371-461)."""

    def __init__(self, table, auto_commit_rows: int | None = None):
        self.table = table
        self.auto_commit_rows = auto_commit_rows
        self._staged: list[DataFileEntry] = []
        self._rows = 0

    def write(self, df: DataFrame) -> "BulkWriter":
        files = write_data_files(self.table, df)
        self._staged += files
        self._rows += sum(f.record_count for f in files)
        if self.auto_commit_rows and self._rows >= self.auto_commit_rows:
            self.commit()
        return self

    def commit(self):
        if not self._staged:
            return None
        snap = self.table._retrying(
            lambda: self.table._commit_snapshot("append", self.table.live_entries() + self._staged)
        )
        self._staged, self._rows = [], 0
        return snap

    def abort(self) -> None:
        """Delete staged (orphaned) files without committing
        (reference: table/insert.go abort path)."""
        for e in self._staged:
            try:
                os.remove(os.path.join(self.table.location, e.file_path))
            except OSError:
                pass
        self._staged, self._rows = [], 0


def delete_equality(table, keys_df: DataFrame, key_columns: list[str]):
    """Merge-on-read EQUALITY delete: write the key rows as an equality-delete
    file; rows in older-sequence data files whose key tuple matches are
    dropped at scan time (null-safe). Implements what the reference stubs
    (reference: table/delete.go:494-501)."""
    schema = table.metadata.current_schema
    eq_ids = []
    for k in key_columns:
        f = schema.find_field(k)
        if f is None:
            raise ValidationError(f"equality-delete key {k!r} not in schema")
        eq_ids.append(f.field_id)
    files = write_data_files(
        table, keys_df.select(*key_columns).distinct(),
        CONTENT_EQUALITY_DELETES, schema, UNPARTITIONED)
    files = [DataFileEntry(**{**f.__dict__, "equality_ids": tuple(eq_ids)}) for f in files]
    # the delete file is written once; a retry past a concurrent commit
    # only re-commits it
    return table._retrying(
        lambda: table._commit_snapshot(OP_DELETE, table.live_entries() + files))

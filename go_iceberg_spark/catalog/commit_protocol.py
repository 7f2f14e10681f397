"""Iceberg REST commit vocabulary: requirements + updates.

The Iceberg REST protocol commits a table by sending a list of
REQUIREMENTS (asserted against the catalog's current metadata — any
failure aborts with 409) and a list of UPDATES (applied to the current
metadata to produce the next version). This module implements both sides
of that contract plus a differ that turns an (old, new) metadata pair into
the update actions an Iceberg catalog service expects
(reference: catalog/catalog.go:131-180 TableRequirement/TableUpdate,
:172-280 the requirement/update constructors).

Used by ``rest_server.py`` (check + apply) and ``rest.py`` (diff + send).
"""

from __future__ import annotations

from dataclasses import replace

from ..errors import RequirementFailedError, ValidationError
from ..schema import schema_from_json, schema_to_json
from ..table.metadata import (
    MAIN_BRANCH,
    PartitionSpec,
    Snapshot,
    SnapshotRef,
    SortOrder,
    TableMetadata,
    now_ms,
    without_snapshots,
)

# ---------------------------------------------------------------------------
# Requirements (reference: catalog/catalog.go:172-210)
# ---------------------------------------------------------------------------


def check_requirements(md: TableMetadata | None, requirements: list[dict]) -> None:
    """Assert every requirement against the catalog's current metadata
    (``None`` = table does not exist). Raises RequirementFailedError on the
    first violation — the server maps that to HTTP 409."""
    for req in requirements:
        rtype = req.get("type")
        if rtype == "assert-create":
            if md is not None:
                raise RequirementFailedError("assert-create: table already exists")
        elif md is None:
            raise RequirementFailedError(f"{rtype}: table does not exist")
        elif rtype == "assert-table-uuid":
            if md.table_uuid != req.get("uuid"):
                raise RequirementFailedError(
                    f"assert-table-uuid: expected {req.get('uuid')}, found {md.table_uuid}")
        elif rtype == "assert-ref-snapshot-id":
            ref = md.refs.get(req.get("ref", MAIN_BRANCH))
            actual = ref.snapshot_id if ref else None
            if actual != req.get("snapshot-id"):
                raise RequirementFailedError(
                    f"assert-ref-snapshot-id: ref {req.get('ref')!r} expected "
                    f"{req.get('snapshot-id')}, found {actual}")
        elif rtype == "assert-current-schema-id":
            if md.current_schema_id != req.get("current-schema-id"):
                raise RequirementFailedError(
                    f"assert-current-schema-id: expected {req.get('current-schema-id')}, "
                    f"found {md.current_schema_id}")
        elif rtype == "assert-default-spec-id":
            if md.default_spec_id != req.get("default-spec-id"):
                raise RequirementFailedError(
                    f"assert-default-spec-id: expected {req.get('default-spec-id')}, "
                    f"found {md.default_spec_id}")
        elif rtype == "assert-default-sort-order-id":
            if md.default_sort_order_id != req.get("default-sort-order-id"):
                raise RequirementFailedError(
                    f"assert-default-sort-order-id: expected {req.get('default-sort-order-id')}, "
                    f"found {md.default_sort_order_id}")
        elif rtype == "assert-last-assigned-field-id":
            last = max((f.field_id for s in md.schemas for f in s.fields), default=0)
            if last != req.get("last-assigned-field-id"):
                raise RequirementFailedError(
                    f"assert-last-assigned-field-id: expected {req.get('last-assigned-field-id')}, "
                    f"found {last}")
        else:
            raise ValidationError(f"unknown requirement type {rtype!r}")


# ---------------------------------------------------------------------------
# Updates (reference: catalog/catalog.go:212-280)
# ---------------------------------------------------------------------------


def apply_updates(md: TableMetadata, updates: list[dict]) -> TableMetadata:
    """Apply update actions in order to produce the next metadata."""
    for up in updates:
        action = up.get("action")
        if action == "assign-uuid":
            md = replace(md, table_uuid=up["uuid"])
        elif action == "upgrade-format-version":
            if up.get("format-version") not in (1, 2):
                raise ValidationError(f"unsupported format-version {up.get('format-version')}")
        elif action == "add-schema":
            s = schema_from_json(up["schema"])
            if all(x.schema_id != s.schema_id for x in md.schemas):
                md = replace(md, schemas=md.schemas + (s,))
        elif action == "set-current-schema":
            md = replace(md, current_schema_id=up["schema-id"])
        elif action == "add-spec":
            sp = PartitionSpec.from_json(up["spec"])
            if all(x.spec_id != sp.spec_id for x in md.partition_specs):
                md = replace(md, partition_specs=md.partition_specs + (sp,))
        elif action == "set-default-spec":
            md = replace(md, default_spec_id=up["spec-id"])
        elif action == "add-sort-order":
            so = SortOrder.from_json(up["sort-order"])
            if all(x.order_id != so.order_id for x in md.sort_orders):
                md = replace(md, sort_orders=md.sort_orders + (so,))
        elif action == "set-default-sort-order":
            md = replace(md, default_sort_order_id=up["sort-order-id"])
        elif action == "add-snapshot":
            snap = Snapshot.from_json(up["snapshot"])
            if all(s.snapshot_id != snap.snapshot_id for s in md.snapshots):
                md = replace(
                    md,
                    snapshots=md.snapshots + (snap,),
                    last_sequence_number=max(md.last_sequence_number, snap.sequence_number),
                )
        elif action == "set-snapshot-ref":
            name = up["ref-name"]
            ref = SnapshotRef(
                up["snapshot-id"], up.get("type", "branch"),
                up.get("min-snapshots-to-keep"), up.get("max-snapshot-age-ms"),
            )
            refs = dict(md.refs)
            refs[name] = ref
            md = replace(md, refs=refs)
            if name == MAIN_BRANCH:
                snap = md.snapshot_by_id(ref.snapshot_id)
                md = replace(
                    md,
                    current_snapshot_id=ref.snapshot_id,
                    snapshot_log=md.snapshot_log
                    + ({"timestamp-ms": snap.timestamp_ms, "snapshot-id": ref.snapshot_id},),
                )
        elif action == "remove-snapshot-ref":
            refs = dict(md.refs)
            refs.pop(up["ref-name"], None)
            md = replace(md, refs=refs)
        elif action == "remove-snapshots":
            # the same rewire and parent-rewired stamp as a local expiry
            md = without_snapshots(md, up["snapshot-ids"])
        elif action == "set-location":
            md = replace(md, location=up["location"])
        elif action == "set-properties":
            md = replace(md, properties={**md.properties, **up["updates"]})
        elif action == "remove-properties":
            removals = set(up["removals"])
            md = replace(md, properties={k: v for k, v in md.properties.items() if k not in removals})
        else:
            raise ValidationError(f"unknown update action {action!r}")
    return replace(md, last_updated_ms=now_ms())


# ---------------------------------------------------------------------------
# Differ: (base, new) -> update actions the client sends
# ---------------------------------------------------------------------------


def metadata_updates(base: TableMetadata, new: TableMetadata) -> list[dict]:
    """Express ``new`` as Iceberg update actions over ``base``. Covers every
    mutation the engine's Table API performs (snapshots, refs/rollback,
    schema evolution, specs, sort orders, properties, location)."""
    ups: list[dict] = []
    if new.table_uuid != base.table_uuid:
        ups.append({"action": "assign-uuid", "uuid": new.table_uuid})
    have = {s.schema_id for s in base.schemas}
    for s in new.schemas:
        if s.schema_id not in have:
            last = max((f.field_id for f in s.fields), default=0)
            ups.append({"action": "add-schema", "schema": schema_to_json(s),
                        "last-column-id": last})
    if new.current_schema_id != base.current_schema_id:
        ups.append({"action": "set-current-schema", "schema-id": new.current_schema_id})
    have = {s.spec_id for s in base.partition_specs}
    for sp in new.partition_specs:
        if sp.spec_id not in have:
            ups.append({"action": "add-spec", "spec": sp.to_json()})
    if new.default_spec_id != base.default_spec_id:
        ups.append({"action": "set-default-spec", "spec-id": new.default_spec_id})
    have = {s.order_id for s in base.sort_orders}
    for so in new.sort_orders:
        if so.order_id not in have:
            ups.append({"action": "add-sort-order", "sort-order": so.to_json()})
    if new.default_sort_order_id != base.default_sort_order_id:
        ups.append({"action": "set-default-sort-order", "sort-order-id": new.default_sort_order_id})

    have = {s.snapshot_id for s in base.snapshots}
    new_ids = {s.snapshot_id for s in new.snapshots}
    for s in new.snapshots:
        if s.snapshot_id not in have:
            ups.append({"action": "add-snapshot", "snapshot": s.to_json()})
    removed = [s.snapshot_id for s in base.snapshots if s.snapshot_id not in new_ids]
    if removed:
        ups.append({"action": "remove-snapshots", "snapshot-ids": removed})

    for name, ref in new.refs.items():
        if base.refs.get(name) != ref:
            up = {"action": "set-snapshot-ref", "ref-name": name,
                  "snapshot-id": ref.snapshot_id, "type": ref.type}
            if ref.min_snapshots_to_keep is not None:
                up["min-snapshots-to-keep"] = ref.min_snapshots_to_keep
            if ref.max_snapshot_age_ms is not None:
                up["max-snapshot-age-ms"] = ref.max_snapshot_age_ms
            ups.append(up)
    for name in base.refs:
        if name not in new.refs:
            ups.append({"action": "remove-snapshot-ref", "ref-name": name})

    if new.location != base.location:
        ups.append({"action": "set-location", "location": new.location})
    added = {k: v for k, v in new.properties.items() if base.properties.get(k) != v}
    if added:
        ups.append({"action": "set-properties", "updates": added})
    gone = [k for k in base.properties if k not in new.properties]
    if gone:
        ups.append({"action": "remove-properties", "removals": gone})
    return ups


def main_ref_requirement(base: TableMetadata) -> dict:
    """The engine's standing requirement: main must still point where the
    client last saw it (reference: table/table.go:163-176 — the only
    requirement the reference auto-generates)."""
    ref = base.refs.get(MAIN_BRANCH)
    return {"type": "assert-ref-snapshot-id", "ref": MAIN_BRANCH,
            "snapshot-id": ref.snapshot_id if ref else None}

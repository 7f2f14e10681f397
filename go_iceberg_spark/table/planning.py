"""Scan planning over manifests at metadata scale.

The reference walks every manifest entry in a driver loop and stubs its
pruning hooks to always-true (reference: table/scan.go:101-190,
table/insert.go:255-266). That is fine at thousands of files and wrong at
millions. ``ScanBuilder.plan_files`` (scan.py) plans a snapshot in one of
four tiers:

1. snapshot skip — each snapshot stores aggregate column bounds over its
   data files in ``summary["bounds"]`` (``summary_bounds`` at commit); a
   filter that contradicts them plans nothing and reads no manifest.
2. Otherwise the parquet members of the snapshot's manifest list are
   checked against their own aggregate bounds (the reference's per-manifest
   partition summaries, spec/manifest.go:152-205) and a member they rule
   out is never read. Members holding delete entries are always kept. The
   kept members' entry count then picks the tier, for a local table whose
   whole entry set is not already cached:

   - above ``DISTRIBUTED_THRESHOLD``: distributed — ``plan_distributed``
     reads the members AS a Spark DataFrame and prunes with a Catalyst
     predicate over the parallel-array stats columns, collecting only the
     survivors. The member paths are listed on the driver
     (``scan.read_parquet``), not by a Spark listing job, so the collect
     is the tier's one job;
   - above ``ScanBuilder._CACHE_ENTRY_LIMIT``: driver prune —
     ``prune_manifest_driver`` reads each member with pyarrow, decodes
     bound values ONLY for filter-referenced fields, and builds
     ``DataFileEntry`` objects for survivors only;
   - otherwise: memory — the kept members are read through the table's
     per-member cache and filtered with ``expr.might_match``.

   Object-storage tables (``Table.io`` not a ``LocalFileIO``: the large
   tiers read per scan, which would download their members again on
   every scan), tables whose entries are already cached, and Avro-only
   snapshots (pruned over the whole Avro tree) always plan in memory. The
   two large tiers never fill the cache.

Every tier is conservative in exactly the way ``expr.might_match`` is: a
file is dropped only when its stats PROVE no row can match; anything
undecidable survives and the row-level filter finishes the job.
"""

from __future__ import annotations

import json
from typing import Any

from ..expr import ColumnStats, Expression, Op, might_match, referenced_columns
from ..schema import Schema
from .metadata import (
    _MANIFEST_ARROW_SCHEMA,
    CONTENT_DATA,
    DataFileEntry,
    _entry_from_columns,
)

# Above this many kept entries the driver prune is replaced by a Spark job
# over the members. The job bounds driver MEMORY: the driver prune holds a
# whole member as arrow (~280 B/entry, ~150 MB for a compacted 550k-entry
# member) and builds entries in Python, while the job brings only
# survivors to the driver. Measured on the 550k-entry table_scan table (139
# members, 4 cores, a point filter on an unclustered column, one survivor,
# warm session): the driver prune takes 3.3-4.0 µs/entry (1.8-2.2 s),
# plan_distributed 0.7-1.2 µs/entry (0.37-0.63 s: 0.07-0.18 s to build the
# frame, whose member paths are listed on the driver, and the rest its one
# collect job). The member bounds skip runs first either way: a clustered
# manifest list prunes 99/100 members on a point scan before any tier runs.
DISTRIBUTED_THRESHOLD = 500_000


def _fid_map(schema: Schema, flt: Expression) -> dict[int, str]:
    """field-id -> column-name for the filter-referenced columns."""
    out: dict[int, str] = {}
    for name in referenced_columns(flt):
        f = schema.find_field(name)
        if f is not None:
            out[f.field_id] = name
    return out


class _NotVectorizable(Exception):
    """Filter shape the numpy evaluator doesn't cover — fall back per-row."""


class _ColArrays:
    """Per-row min/max/null/value arrays for ONE field, extracted from the
    manifest's flattened list columns without converting the whole table."""

    def __init__(self, t, fid: int, boolean: bool):
        import numpy as np

        fids_col = t.column("stats_fids").combine_chunks()
        off = np.asarray(fids_col.offsets)
        flat = np.asarray(fids_col.values)
        n = len(off) - 1
        sel = np.flatnonzero(flat == fid)
        rows = np.searchsorted(off, sel, side="right") - 1

        def pick(name, decode):
            col = t.column(name).combine_chunks().values
            vals = decode(col.take(sel))
            return rows, vals

        self.present = np.zeros(n, dtype=bool)
        self.present[rows] = True

        def dec_num(arr):
            # JSON bounds as float64, NaN for "null"; booleans as 0/1, the
            # order Python (and so expr.might_match) gives False < True
            s = np.asarray(arr.to_pylist(), dtype=object)
            miss = s == "null"
            if boolean:
                out = (s == "true").astype(np.float64)
            else:
                s = s.copy()
                s[miss] = "nan"
                out = s.astype(np.float64)
            out[miss] = np.nan
            return out

        def dec_int(arr):
            a = arr.to_numpy(zero_copy_only=False).astype(np.float64)
            return a  # None -> nan

        _, self.mins = pick("stats_min_json", dec_num)
        _, self.maxs = pick("stats_max_json", dec_num)
        _, self.nulls = pick("stats_null_counts", dec_int)
        _, self.vals = pick("stats_value_counts", dec_int)
        # NaN counts: -1 = unknown (see metadata._MANIFEST_ARROW_SCHEMA)
        _, self.nans = pick("stats_nan_counts", dec_int)
        self.rows = rows
        self.n = n

    def scatter(self, flat_vals):
        """Row-indexed array (NaN where the field has no stats entry)."""
        import numpy as np

        out = np.full(self.n, np.nan)
        out[self.rows] = flat_vals
        return out


def _vector_match(flt: Expression, t, schema: Schema):
    """Vectorized might-match over the manifest table; mirrors
    expr.might_match node for node, returning a boolean row mask. Raises
    _NotVectorizable for string-typed bounds or ops numpy can't express
    (the per-row fallback covers those)."""
    import numpy as np

    n = t.num_rows
    cache: dict[int, dict] = {}

    def field_arrays(col: str):
        f = schema.find_field(col)
        if f is None:
            raise _NotVectorizable(col)
        prim = getattr(f.type, "name", None)
        if prim not in ("int", "long", "float", "double", "date", "time",
                        "timestamp", "timestamptz", "boolean"):
            raise _NotVectorizable(f"{col}: {prim}")  # string/binary bounds
        if f.field_id not in cache:
            ca = _ColArrays(t, f.field_id, boolean=prim == "boolean")
            cache[f.field_id] = {
                "present": ca.present,
                "mins": ca.scatter(ca.mins),
                "maxs": ca.scatter(ca.maxs),
                "nulls": ca.scatter(ca.nulls),
                "vals": ca.scatter(ca.vals),
                # scatter fills NaN (=unknown) for rows without a stats entry
                "nans": ca.scatter(ca.nans),
                "is_float": prim in ("float", "double"),
            }
        return cache[f.field_id]

    TRUE = np.ones(n, dtype=bool)

    def build(e: Expression):
        if e.op is Op.ALWAYS_TRUE:
            return TRUE
        if e.op is Op.ALWAYS_FALSE:
            return ~TRUE
        if e.op is Op.AND:
            out = TRUE
            for c in e.children:
                out = out & build(c)
            return out
        if e.op is Op.OR:
            out = ~TRUE
            for c in e.children:
                out = out | build(c)
            return out
        if e.op is Op.NOT:
            return TRUE  # conservative, as expr.might_match

        a = field_arrays(e.column)
        missing = ~a["present"]
        nulls, vals = a["nulls"], a["vals"]

        if e.op is Op.IS_NULL:
            return missing | np.isnan(nulls) | (nulls > 0)
        if e.op is Op.NOT_NULL:
            all_null = ~np.isnan(nulls) & ~np.isnan(vals) & (nulls >= vals)
            return missing | ~all_null

        if e.op in (Op.EQ, Op.GT, Op.GTE, Op.LT, Op.LTE, Op.IN):
            lo, hi = a["mins"], a["maxs"]
            all_null = ~np.isnan(nulls) & ~np.isnan(vals) & (nulls >= vals)
            no_bounds = np.isnan(lo) | np.isnan(hi)
            values = list(e.values) if e.op is Op.IN else [e.value]
            try:
                fvals = [float(v) for v in values]
            except (TypeError, ValueError):
                raise _NotVectorizable(f"non-numeric literal for {e.column}")
            if any(np.isnan(v) for v in fvals):
                # NaN literals need expr.might_match's NaN ordering rules
                raise _NotVectorizable(f"NaN literal for {e.column}")
            if any(abs(v) > 2.0**53 for v in fvals):
                # beyond exact float64 integers the comparison could prune a
                # file wrongly — use the exact per-row path instead
                raise _NotVectorizable(f"literal beyond float64 precision for {e.column}")
            # high-side prunes on float columns are only legal with a PROVEN
            # zero nan count: NaN rows sort above every bound (expr.py NaN
            # guard). nans: NaN = unknown, -1 = not collected, 0 = proven.
            may_nan = a["is_float"] & ~(a["nans"] == 0)
            if e.op in (Op.EQ, Op.IN):
                pred = ~TRUE
                for v in fvals:
                    pred = pred | ((lo <= v) & (v <= hi))
            elif e.op is Op.GT:
                pred = (hi > fvals[0]) | may_nan
            elif e.op is Op.GTE:
                pred = (hi >= fvals[0]) | may_nan
            elif e.op is Op.LT:
                pred = lo < fvals[0]
            else:
                pred = lo <= fvals[0]
            return missing | (~all_null & (no_bounds | pred))

        raise _NotVectorizable(str(e.op))  # NOT_EQ, NOT_IN, STARTS_WITH...

    return build(flt)


def prune_manifest_driver(path: str, flt: Expression, schema: Schema) -> list[DataFileEntry]:
    """Pruned driver-side read: bound values are decoded only for
    filter-referenced fields (vectorized via numpy over the flattened stats
    arrays when the filter is numeric), and only surviving rows become
    DataFileEntry objects. Delete-content entries always survive — they are
    pair-matched to data files later."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    content = t.column("content").to_numpy()
    is_data = content == CONTENT_DATA
    try:
        match = _vector_match(flt, t, schema)
    except _NotVectorizable:
        match = _perrow_match(flt, t, schema)
    keep = np.flatnonzero(~is_data | match)
    d = t.take(keep).to_pydict()
    return [_entry_from_columns(d, i) for i in range(len(keep))]


def _perrow_match(flt: Expression, t, schema: Schema):
    """Per-row might-match over minimal stats (only filter columns decoded);
    covers filter shapes the vectorized evaluator rejects."""
    import numpy as np

    needed = _fid_map(schema, flt)
    n = t.num_rows
    fids_l = t.column("stats_fids").to_pylist()
    mins_l = t.column("stats_min_json").to_pylist()
    maxs_l = t.column("stats_max_json").to_pylist()
    nulls_l = t.column("stats_null_counts").to_pylist()
    vals_l = t.column("stats_value_counts").to_pylist()
    nans_l = t.column("stats_nan_counts").to_pylist()
    out = np.zeros(n, dtype=bool)
    for i in range(n):
        stats: dict[str, ColumnStats] = {}
        for j, fid in enumerate(fids_l[i]):
            name = needed.get(fid)
            if name is not None:
                nan_ct = nans_l[i][j]
                stats[name] = ColumnStats(
                    min=json.loads(mins_l[i][j]),
                    max=json.loads(maxs_l[i][j]),
                    null_count=nulls_l[i][j],
                    value_count=vals_l[i][j],
                    nan_count=nan_ct if nan_ct >= 0 else None,
                )
        out[i] = might_match(flt, stats)
    return out


# ---------------------------------------------------------------------------
# Distributed planning: Catalyst predicate over the stats arrays
# ---------------------------------------------------------------------------

# Catalyst type each bound decodes to, by field type; fields not listed
# (string, binary, decimal) have no numeric bound predicate.
_BOUND_TYPE = {
    "int": "long", "long": "long", "date": "long", "time": "long",
    "timestamp": "long", "timestamptz": "long",
    "float": "double", "double": "double", "boolean": "boolean",
}


def _casts_exactly(v, bound_t: str) -> bool:
    """Whether the literal ``v`` converts to ``bound_t`` without loss."""
    if bound_t == "boolean":
        return isinstance(v, bool)
    if bound_t == "long":
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        return isinstance(v, int) and -(2**63) <= v < 2**63
    return isinstance(v, float) or (isinstance(v, int) and abs(v) <= 2**53)


def _stats_predicate(flt: Expression, schema: Schema):
    """Catalyst might-match predicate over the manifest's parallel-array
    stats columns. Conservative: anything it cannot express (NOT subtrees,
    string-typed bounds, missing stats) evaluates TRUE so the file survives.
    Mirrors expr.might_match's numeric branch exactly.

    The expression is kept compact because its size decides its speed. Each
    per-field value is ``get(array, array_position(stats_fids, fid) - 1)``,
    which is NULL when the entry has no stats for the field, and bounds
    decode with ``try_cast``, which maps the JSON ``"null"`` to NULL, so no
    CASE guards are needed. The Filter's whole-stage codegen method must
    stay under HotSpot's 8,000-byte huge-method limit: above it the JVM
    never JIT-compiles the method and the filter runs in the bytecode
    interpreter, several times slower over 550k entries. Filters of up to
    four numeric leaves fit (two long and two double leaves: 7,923 bytes); a
    five-leaf filter measures 9,410 bytes and runs interpreted
    (tests/test_planning.py pins the limit for one and three leaves)."""
    from pyspark.sql import functions as F

    TRUE = F.lit(True)

    def stat(column: str, fid: int):
        return F.get(F.col(column), F.array_position(F.col("stats_fids"), F.lit(fid)) - 1)

    def param(v, t: str):
        # read from an array literal at index ``content``, which is
        # CONTENT_DATA = 0 on every entry the predicate decides: the
        # generated code refers to the value instead of inlining it, so one
        # compiled, JIT-warm class serves every literal of a filter shape
        return F.get(F.array(F.lit(v).cast(t)), F.col("content"))

    def build(e: Expression):
        if e.op is Op.ALWAYS_TRUE:
            return TRUE
        if e.op is Op.ALWAYS_FALSE:
            return F.lit(False)
        if e.op is Op.AND:
            out = TRUE
            for c in e.children:
                out = out & build(c)
            return out
        if e.op is Op.OR:
            out = F.lit(False)
            for c in e.children:
                out = out | build(c)
            return out
        if e.op is Op.NOT:
            return TRUE  # might-match of NOT is conservative (expr.might_match)

        f = schema.find_field(e.column) if e.column else None
        if f is None:
            return TRUE
        fid = f.field_id
        nulls = stat("stats_null_counts", fid)
        # ColumnStats.all_null; unknown counts (NULL) never prove it
        all_null = F.coalesce(nulls >= stat("stats_value_counts", fid), F.lit(False))

        if e.op is Op.IS_NULL:
            return F.coalesce(nulls > 0, TRUE)
        if e.op is Op.NOT_NULL:
            return ~all_null

        prim = getattr(f.type, "name", None)
        bound_t = _BOUND_TYPE.get(prim)
        if bound_t is None:
            return TRUE  # string/binary bounds: driver path prunes these
        vals = [e.value] if e.op is not Op.IN else list(e.values)
        if any(isinstance(v, float) and v != v for v in vals):
            return TRUE  # NaN literal: expr.might_match's NaN rules; row
            # filter finishes the job (conservative, never prunes)
        if not all(_casts_exactly(v, bound_t) for v in vals):
            return TRUE  # e.g. x < 10.5 on a long: a truncated 10 would
            # prune the file whose min is 10
        lo = stat("stats_min_json", fid).try_cast(bound_t)
        hi = stat("stats_max_json", fid).try_cast(bound_t)
        if prim in ("float", "double"):
            # a NaN bound is degenerate: never prune on it
            lo, hi = F.nanvl(lo, F.lit(None)), F.nanvl(hi, F.lit(None))
            # high-side prunes need a PROVEN-zero nan count: NaN rows sort
            # above every bound and bounds exclude NaN (expr.py NaN guard)
            may_nan = F.coalesce(stat("stats_nan_counts", fid) != 0, TRUE)
        else:
            may_nan = F.lit(False)

        def cmp(pred):
            return ~all_null & (lo.isNull() | hi.isNull() | pred)

        lits = [param(v, bound_t) for v in vals]
        if e.op in (Op.EQ, Op.IN):
            anyhit = F.lit(False)
            for lv in lits:
                anyhit = anyhit | ((lo <= lv) & (lv <= hi))
            return cmp(anyhit)
        if e.op is Op.GT:
            return cmp((hi > lits[0]) | may_nan)
        if e.op is Op.GTE:
            return cmp((hi >= lits[0]) | may_nan)
        if e.op is Op.LT:
            return cmp(lo < lits[0])
        if e.op is Op.LTE:
            return cmp(lo <= lits[0])
        return TRUE  # NOT_IN, STARTS_WITH, ... — row filter finishes the job

    return build(flt)


def _bucket_partition_pred(flt: Expression, specs, schema: Schema, bucket_fn: str = "spark"):
    """Catalyst predicate over ``partition_json`` mirroring the planner's
    driver-side bucket check (scan._bucket_partition_might_match) for
    top-level AND chains: an EQ/IN literal on a bucket[N] source keeps only
    rows whose recorded bucket can contain it — so at the distributed tier
    bucket pruning happens IN the Spark job and the driver never collects
    the full survivor list of a hashed layout. Conservative: entries whose
    spec lacks the field (json key absent → NULL) are kept; a partition
    field name reused across specs with DIFFERENT bucket definitions emits
    no condition; non-EQ/IN shapes emit no condition. Returns None when no
    constraint applies."""
    from pyspark.sql import functions as F

    from ..expr import Op
    from .write import _BUCKET_RE, bucket_for_literal

    # (name -> (n, source_id)) only where consistent across ALL specs.
    # A name is unsafe not just when two specs disagree on the bucket
    # definition, but also when ANY spec defines it with a NON-bucket
    # transform (e.g. identity): those entries' partition_json holds a
    # non-NULL non-ordinal value, and comparing it against bucket ordinals
    # would silently prune live files.
    defs: dict[str, tuple[int, int]] = {}
    clash: set[str] = set()
    for spec in specs:
        for pf in spec.fields:
            m = _BUCKET_RE.match(pf.transform)
            if not m:
                clash.add(pf.name)
                continue
            d = (int(m.group(1)), pf.source_id)
            if pf.name in defs and defs[pf.name] != d:
                clash.add(pf.name)
            defs[pf.name] = d
    leaves = flt.children if flt.op is Op.AND else (flt,)
    conds = []
    for leaf in leaves:
        if leaf.op not in (Op.EQ, Op.IN) or not leaf.column:
            continue
        for name, (n, source_id) in defs.items():
            if name in clash:
                continue
            src = schema.find_field_by_id(source_id)
            if src is None or src.name != leaf.column:
                continue
            vals = [leaf.value] if leaf.op is Op.EQ else list(leaf.values)
            buckets = [bucket_for_literal(v, n, src.type, bucket_fn=bucket_fn) for v in vals]
            if any(b is None for b in buckets):
                continue
            j = F.get_json_object(F.col("partition_json"), f"$.{name}")
            conds.append(j.isNull() | j.isin([str(b) for b in set(buckets)]))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _distributed_frame(spark, paths: list[str], flt: Expression, schema: Schema,
                       specs=(), bucket_fn: str = "spark"):
    """The entries of the members that might match ``flt``, as a DataFrame:
    the stats predicate (and the bucket-partition predicate) over the
    members, delete entries always kept. The members are read under the
    manifest schema, so no schema-inference job runs, and listed on the
    driver, so no listing job runs: the distributed tier plans local tables
    only."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    from .scan import read_parquet

    pred = _stats_predicate(flt, schema)
    if specs:
        bp = _bucket_partition_pred(flt, specs, schema, bucket_fn=bucket_fn)
        if bp is not None:
            pred = pred & bp
    df = read_parquet(spark, paths, from_arrow_schema(_MANIFEST_ARROW_SCHEMA), local=True)
    return df.filter((F.col("content") != CONTENT_DATA) | pred)


def plan_distributed(spark, path: str | list[str], flt: Expression, schema: Schema,
                     specs=(), bucket_fn: str = "spark") -> list[DataFileEntry]:
    """Prune a huge manifest (or manifest-list members) with a Spark job:
    filter the entry DataFrame by the stats predicate, collect only
    survivors, build entries from them."""
    paths = path if isinstance(path, list) else [path]
    df = _distributed_frame(spark, paths, flt, schema, specs, bucket_fn)
    rows = df.collect()
    cols = {name: [r[name] for r in rows] for name in df.columns}
    return [_entry_from_columns(cols, i) for i in range(len(rows))]


# ---------------------------------------------------------------------------
# Snapshot-level bounds summary (manifest-list-level pruning analogue)
# ---------------------------------------------------------------------------


def summary_bounds(entries: list[DataFileEntry]) -> str:
    """Aggregate per-field bounds over data entries, JSON-encoded for the
    snapshot summary. None bounds poison the aggregate for that side (a file
    without a min could hold anything below the others' min)."""
    agg: dict[int, dict[str, Any]] = {}
    for e in entries:
        if e.content != CONTENT_DATA:
            continue
        for fid, s in e.column_stats.items():
            a = agg.setdefault(fid, {"min": s.get("min"), "max": s.get("max"), "seen": False})
            if a["seen"]:
                mn, mx = s.get("min"), s.get("max")
                try:
                    a["min"] = None if (mn is None or a["min"] is None) else min(a["min"], mn)
                    a["max"] = None if (mx is None or a["max"] is None) else max(a["max"], mx)
                except TypeError:
                    a["min"] = a["max"] = None
            else:
                a["seen"] = True
    return json.dumps({str(fid): {"min": a["min"], "max": a["max"]} for fid, a in agg.items()})


def merge_summary_bounds(bounds_jsons: list[str]) -> str:
    """Merge per-member bounds summaries into the snapshot-level summary: a
    commit already computes ``summary_bounds`` once per written member
    (``_member_dict``), so the snapshot-wide aggregate is a merge of those
    JSON dicts — O(members x fields), not O(live entries). The result equals
    ``summary_bounds`` over all entries because min/max are associative
    under the same None-poisoning: a field absent from a member contributes
    nothing, exactly as its entries would."""
    agg: dict[str, dict[str, Any]] = {}
    for bj in bounds_jsons:
        for fid_s, mm in json.loads(bj).items():
            a = agg.get(fid_s)
            if a is None:
                agg[fid_s] = {"min": mm.get("min"), "max": mm.get("max")}
                continue
            mn, mx = mm.get("min"), mm.get("max")
            try:
                a["min"] = None if (mn is None or a["min"] is None) else min(a["min"], mn)
                a["max"] = None if (mx is None or a["max"] is None) else max(a["max"], mx)
            except TypeError:
                a["min"] = a["max"] = None
    return json.dumps(agg)


def summary_might_match(bounds_json: str, flt: Expression, schema: Schema) -> bool:
    """Check the filter against snapshot-wide bounds; False means NO file in
    the snapshot can match, so planning skips the manifest read entirely."""
    try:
        bounds = json.loads(bounds_json)
    except (TypeError, ValueError):
        return True
    stats = {}
    for fid_s, b in bounds.items():
        f = schema.find_field_by_id(int(fid_s))
        if f is not None:
            stats[f.name] = ColumnStats(min=b.get("min"), max=b.get("max"),
                                        null_count=None, value_count=None)
    return might_match(flt, stats)

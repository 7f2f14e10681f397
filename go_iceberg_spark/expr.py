"""Expression DSL → pyspark.sql.Column, plus file-stats pruning.

Re-expresses the reference's expression IR (reference: table/expression.go:10-26
op enum, :67-73 node struct, :114-300 builders) Spark-first: the tree is a thin
immutable IR whose only jobs are (a) translation to a Catalyst ``Column`` —
after which Catalyst owns simplification, pushdown, and codegen — and (b)
driver-side *inclusive projection* onto file statistics (min/max/null counts)
for manifest pruning, which the reference stubs out entirely
(reference: table/insert.go:255-266 — ``manifestMightMatch``/``fileMightMatch``
always return true).

Unlike the reference's row interpreter, ALL ops are handled — the reference's
``evaluateExpressionOnRow`` silently treats NotIn/StartsWith/NotStartsWith as
"match everything" (reference: table/delete.go:324-326), a bug we do not keep.

NULL semantics: we use SQL three-valued logic (Spark-native). The reference
uses two-valued "NULL never matches" logic (reference: table/delete.go:344-346);
for plain filters the observable results coincide (NULL rows are dropped); for
``NOT(p)`` they differ — documented in SURVEY.md §2.6.1 and pinned by tests.
"""

from __future__ import annotations

import enum
import math
from dataclasses import dataclass, field
from dataclasses import replace as dc_replace
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


class Op(enum.Enum):
    AND = "and"
    OR = "or"
    NOT = "not"
    EQ = "eq"
    NOT_EQ = "not_eq"
    LT = "lt"
    LTE = "lte"
    GT = "gt"
    GTE = "gte"
    IN = "in"
    NOT_IN = "not_in"
    IS_NULL = "is_null"
    NOT_NULL = "not_null"
    STARTS_WITH = "starts_with"
    NOT_STARTS_WITH = "not_starts_with"
    ALWAYS_TRUE = "true"
    ALWAYS_FALSE = "false"


_COMPARISONS = {Op.EQ, Op.NOT_EQ, Op.LT, Op.LTE, Op.GT, Op.GTE}


@dataclass(frozen=True)
class Expression:
    """Immutable expression node (reference: table/expression.go:67-73)."""

    op: Op
    column: str | None = None
    value: Any = None
    values: tuple[Any, ...] = ()
    children: tuple["Expression", ...] = field(default=())

    # -- combinators ------------------------------------------------------
    def __and__(self, other: "Expression") -> "Expression":
        return and_(self, other)

    def __or__(self, other: "Expression") -> "Expression":
        return or_(self, other)

    def __invert__(self) -> "Expression":
        return not_(self)

    def __repr__(self) -> str:  # compact, debug-friendly
        if self.op in (Op.ALWAYS_TRUE, Op.ALWAYS_FALSE):
            return self.op.value
        if self.op in (Op.AND, Op.OR):
            return "(" + f" {self.op.value} ".join(map(repr, self.children)) + ")"
        if self.op is Op.NOT:
            return f"not {self.children[0]!r}"
        if self.op in (Op.IS_NULL, Op.NOT_NULL):
            return f"{self.column} {self.op.value}"
        if self.op in (Op.IN, Op.NOT_IN):
            return f"{self.column} {self.op.value} {list(self.values)}"
        return f"{self.column} {self.op.value} {self.value!r}"


ALWAYS_TRUE = Expression(Op.ALWAYS_TRUE)
ALWAYS_FALSE = Expression(Op.ALWAYS_FALSE)


class ColumnRef:
    """Fluent builder entry point (reference: table/expression.go:114-117)."""

    def __init__(self, name: str):
        self.name = name

    def eq(self, v: Any) -> Expression:
        return Expression(Op.EQ, self.name, v)

    def not_eq(self, v: Any) -> Expression:
        return Expression(Op.NOT_EQ, self.name, v)

    def lt(self, v: Any) -> Expression:
        return Expression(Op.LT, self.name, v)

    def lte(self, v: Any) -> Expression:
        return Expression(Op.LTE, self.name, v)

    def gt(self, v: Any) -> Expression:
        return Expression(Op.GT, self.name, v)

    def gte(self, v: Any) -> Expression:
        return Expression(Op.GTE, self.name, v)

    def isin(self, *vs: Any) -> Expression:
        vals = vs[0] if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else vs
        return Expression(Op.IN, self.name, values=tuple(vals))

    def not_in(self, *vs: Any) -> Expression:
        vals = vs[0] if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else vs
        return Expression(Op.NOT_IN, self.name, values=tuple(vals))

    def is_null(self) -> Expression:
        return Expression(Op.IS_NULL, self.name)

    def is_not_null(self) -> Expression:
        return Expression(Op.NOT_NULL, self.name)

    def starts_with(self, prefix: str) -> Expression:
        return Expression(Op.STARTS_WITH, self.name, prefix)

    def not_starts_with(self, prefix: str) -> Expression:
        return Expression(Op.NOT_STARTS_WITH, self.name, prefix)

    def between(self, lo: Any, hi: Any) -> Expression:
        # Sugar for And(Gte, Lte) (reference: table/expression.go:295-300)
        return and_(self.gte(lo), self.lte(hi))


def col(name: str) -> ColumnRef:
    return ColumnRef(name)


# -- free-function shorthands (reference: table/expression.go:250-292) ------
def eq(c: str, v: Any) -> Expression:
    return col(c).eq(v)


def not_eq(c: str, v: Any) -> Expression:
    return col(c).not_eq(v)


def lt(c: str, v: Any) -> Expression:
    return col(c).lt(v)


def lte(c: str, v: Any) -> Expression:
    return col(c).lte(v)


def gt(c: str, v: Any) -> Expression:
    return col(c).gt(v)


def gte(c: str, v: Any) -> Expression:
    return col(c).gte(v)


def isin(c: str, *vs: Any) -> Expression:
    return col(c).isin(*vs)


def is_null(c: str) -> Expression:
    return col(c).is_null()


def is_not_null(c: str) -> Expression:
    return col(c).is_not_null()


def starts_with(c: str, p: str) -> Expression:
    return col(c).starts_with(p)


def and_(*exprs: Expression) -> Expression:
    """Variadic AND (reference: table/expression.go:226-233)."""
    flat = tuple(e for e in exprs if e.op is not Op.ALWAYS_TRUE)
    if any(e.op is Op.ALWAYS_FALSE for e in flat):
        return ALWAYS_FALSE
    if not flat:
        return ALWAYS_TRUE
    if len(flat) == 1:
        return flat[0]
    return Expression(Op.AND, children=flat)


def or_(*exprs: Expression) -> Expression:
    """Variadic OR (reference: table/expression.go:236-243)."""
    flat = tuple(e for e in exprs if e.op is not Op.ALWAYS_FALSE)
    if any(e.op is Op.ALWAYS_TRUE for e in flat):
        return ALWAYS_TRUE
    if not flat:
        return ALWAYS_FALSE
    if len(flat) == 1:
        return flat[0]
    return Expression(Op.OR, children=flat)


def not_(e: Expression) -> Expression:
    """NOT with double-negation elimination (reference: table/expression.go:418-424)."""
    if e.op is Op.NOT:
        return e.children[0]
    if e.op is Op.ALWAYS_TRUE:
        return ALWAYS_FALSE
    if e.op is Op.ALWAYS_FALSE:
        return ALWAYS_TRUE
    return Expression(Op.NOT, children=(e,))


def simplify(e: Expression) -> Expression:
    """Collapse empty/singleton AND-OR and double negation
    (reference: table/expression.go:384-433). Catalyst re-does this on the
    Column side (BooleanSimplification); kept for driver-side pruning trees."""
    if e.op is Op.AND:
        return and_(*[simplify(c) for c in e.children])
    if e.op is Op.OR:
        return or_(*[simplify(c) for c in e.children])
    if e.op is Op.NOT:
        return not_(simplify(e.children[0]))
    return e


def referenced_columns(e: Expression) -> list[str]:
    """Distinct column names, first-seen order (reference: table/expression.go:436-458)."""
    out: list[str] = []

    def walk(x: Expression) -> None:
        if x.column and x.column not in out:
            out.append(x.column)
        for c in x.children:
            walk(c)

    walk(e)
    return out


def rename_columns(e: Expression, mapping: dict[str, str]) -> Expression:
    """Clone with leaf column names rewritten. Used to re-bind a filter
    captured against one schema generation onto a concurrently-evolved
    schema: names map through field ids, so a rename mid-operation follows
    the field, never the stale name. Single-pass, so swap renames
    (a→b, b→a) apply simultaneously."""
    if not mapping:
        return e
    if e.children:
        return dc_replace(e, children=tuple(rename_columns(c, mapping) for c in e.children))
    if e.column is not None and e.column in mapping:
        return dc_replace(e, column=mapping[e.column])
    return e


def to_column(e: Expression) -> Column:
    """Translate the IR to a Catalyst ``Column``.

    All 15 ops handled — including NotIn / StartsWith / NotStartsWith, which
    the reference's row interpreter drops on the floor
    (reference: table/delete.go:324-326).
    """
    op = e.op
    if op is Op.ALWAYS_TRUE:
        return F.lit(True)
    if op is Op.ALWAYS_FALSE:
        return F.lit(False)
    if op is Op.AND:
        out = to_column(e.children[0])
        for c in e.children[1:]:
            out = out & to_column(c)
        return out
    if op is Op.OR:
        out = to_column(e.children[0])
        for c in e.children[1:]:
            out = out | to_column(c)
        return out
    if op is Op.NOT:
        return ~to_column(e.children[0])
    c = F.col(e.column)
    if op is Op.EQ:
        return c == F.lit(e.value)
    if op is Op.NOT_EQ:
        return c != F.lit(e.value)
    if op is Op.LT:
        return c < F.lit(e.value)
    if op is Op.LTE:
        return c <= F.lit(e.value)
    if op is Op.GT:
        return c > F.lit(e.value)
    if op is Op.GTE:
        return c >= F.lit(e.value)
    if op is Op.IN:
        return c.isin(list(e.values))
    if op is Op.NOT_IN:
        return ~c.isin(list(e.values))
    if op is Op.IS_NULL:
        return c.isNull()
    if op is Op.NOT_NULL:
        return c.isNotNull()
    if op is Op.STARTS_WITH:
        return c.startswith(e.value)
    if op is Op.NOT_STARTS_WITH:
        return ~c.startswith(e.value)
    raise ValueError(f"unhandled op {op}")


# ---------------------------------------------------------------------------
# Inclusive projection onto file statistics (manifest pruning).
#
# ``might_match(expr, stats)`` answers "could any row of a file with these
# stats satisfy expr?". Conservative: returns True on any uncertainty. This is
# the real implementation of what the reference stubs as always-true
# (reference: table/insert.go:255-266), following the standard inclusive/
# strict projection design from the Iceberg spec (public).
#
# ``stats`` is FileColumnStats per column name: encoded min/max (order-
# preserving encoding chosen by the schema layer), null_count, value_count.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ColumnStats:
    min: Any = None  # None = unknown
    max: Any = None
    null_count: int | None = None
    value_count: int | None = None
    bloom: str | None = None  # hex bitmap (bloom.py); None = not built
    nan_count: int | None = None  # Iceberg nan_value_counts; None = unknown

    @property
    def all_null(self) -> bool:
        return (
            self.null_count is not None
            and self.value_count is not None
            and self.null_count >= self.value_count
        )

    @property
    def has_nulls(self) -> bool | None:
        if self.null_count is None:
            return None
        return self.null_count > 0


def might_match(e: Expression, stats: dict[str, ColumnStats]) -> bool:
    """True if a file with these column stats could contain a matching row."""
    op = e.op
    if op is Op.ALWAYS_TRUE:
        return True
    if op is Op.ALWAYS_FALSE:
        return False
    if op is Op.AND:
        return all(might_match(c, stats) for c in e.children)
    if op is Op.OR:
        return any(might_match(c, stats) for c in e.children)
    if op is Op.NOT:
        # NOT(child) might match unless child *must* match every row; we only
        # track might-match, so stay conservative.
        return True

    s = stats.get(e.column)
    if s is None:
        return True  # no stats for this column -> cannot prune

    if op is Op.IS_NULL:
        return s.has_nulls is not False
    if op is Op.NOT_NULL:
        return not s.all_null

    if s.all_null:
        return False  # comparisons / IN / STARTS_WITH never match all-null

    lo, hi = s.min, s.max
    if lo is None or hi is None:
        return True

    # NaN guard (mirrors must_match's): Spark/Iceberg order NaN ABOVE
    # every float, but parquet min/max bounds EXCLUDE NaN — so a float file
    # whose non-NaN max is 5 can still hold rows satisfying x > 100 (its NaN
    # rows). Pruning on the HIGH side, or on a NaN literal, is only legal
    # with a PROVEN-zero nan count (write.nan-count-columns); unknown stays
    # conservative.
    def _nan(v: Any) -> bool:
        return isinstance(v, float) and math.isnan(v)

    if _nan(lo) or _nan(hi):
        return True  # degenerate bounds: never prune on them
    may_nan = (isinstance(lo, float) or isinstance(hi, float)) and s.nan_count != 0

    def _le(a: Any, b: Any) -> bool | None:
        try:
            return bool(a <= b)
        except TypeError:
            return None  # incomparable encodings -> no pruning

    def _lt(a: Any, b: Any) -> bool | None:
        try:
            return bool(a < b)
        except TypeError:
            return None

    if op is Op.EQ:  # some row == v possible iff v ∈ [lo, hi]
        if _nan(e.value):  # NaN = NaN matches in Spark; bounds never see NaN
            return may_nan
        r1, r2 = _le(lo, e.value), _le(e.value, hi)
        if r1 is False or r2 is False:
            return False
        if s.bloom:  # in-range but provably absent from the file
            from .bloom import bloom_might_contain

            return bloom_might_contain(s.bloom, e.value)
        return True
    if op is Op.LT:  # some row < v possible iff lo < v
        if _nan(e.value):  # every non-NaN row is < NaN; bounds prove some exist
            return True
        return _lt(lo, e.value) is not False
    if op is Op.LTE:  # some row <= v possible iff lo <= v
        if _nan(e.value):
            return True
        return _le(lo, e.value) is not False
    if op is Op.GT:  # some row > v possible iff hi > v (or a NaN row exists)
        if _nan(e.value):
            return False  # nothing sorts above NaN, not even NaN
        return may_nan or _lt(e.value, hi) is not False
    if op is Op.GTE:  # some row >= v possible iff hi >= v (or a NaN row exists)
        if _nan(e.value):
            return may_nan  # only NaN >= NaN
        return may_nan or _le(e.value, hi) is not False
    if op is Op.IN:
        if may_nan and any(_nan(v) for v in e.values):
            return True
        in_range = [v for v in e.values if not _nan(v)
                    and not (_le(lo, v) is False or _le(v, hi) is False)]
        if not in_range:
            return False
        if s.bloom:
            from .bloom import bloom_might_contain

            return any(bloom_might_contain(s.bloom, v) for v in in_range)
        return True
    if op is Op.STARTS_WITH:
        # prefix match possible iff [lo, hi] intersects [prefix, prefix+∞)
        p = e.value
        if isinstance(lo, str) and isinstance(hi, str):
            return hi >= p and lo[: len(p)] <= p
        return True
    # NOT_EQ / NOT_IN / NOT_STARTS_WITH: can only prune single-value files;
    # stay conservative (inclusive projection).
    return True


def must_match(e: Expression, stats: dict[str, ColumnStats]) -> bool:
    """True only when these column stats PROVE every row matches — the
    metadata-only delete fast path (DROP PARTITION shape): a fully-matching
    file is dropped from the snapshot without being read or rewritten.
    Conservative by construction: any uncertainty returns False, which
    falls back to the rewrite path (correct, just slower)."""
    op = e.op
    if op is Op.ALWAYS_TRUE:
        return True
    if op is Op.AND:
        return bool(e.children) and all(must_match(c, stats) for c in e.children)
    if op is Op.OR:
        return any(must_match(c, stats) for c in e.children)

    s = stats.get(e.column) if e.column else None
    if s is None:
        return False
    nn = s.null_count
    no_nulls = nn == 0
    if op is Op.IS_NULL:
        return s.all_null is True
    if op is Op.NOT_NULL:
        return no_nulls and s.value_count is not None and s.value_count > 0
    if not no_nulls:
        return False  # a NULL row never satisfies a comparison
    lo, hi = s.min, s.max
    if lo is None or hi is None:
        return False
    if isinstance(lo, float) or isinstance(hi, float):
        # Parquet min/max stats EXCLUDE NaN, so a float file containing NaN
        # rows can look "fully matching" (e.g. delete x < 100 with every
        # non-NaN value < 100) and be dropped metadata-only — silently losing
        # the NaN rows, which never satisfy a comparison. Iceberg's guard is
        # per-file nan_value_counts: only a PROVEN zero (collected when the
        # write.nan-count-columns property lists the column) re-enables the
        # metadata-only fast path; unknown stays conservative.
        if s.nan_count != 0:
            return False

    try:
        if op is Op.EQ:
            return bool(lo == e.value and hi == e.value)
        if op is Op.LT:
            return bool(hi < e.value)
        if op is Op.LTE:
            return bool(hi <= e.value)
        if op is Op.GT:
            return bool(lo > e.value)
        if op is Op.GTE:
            return bool(lo >= e.value)
        if op is Op.IN:
            return bool(lo == hi and any(lo == v for v in e.values))
        if op is Op.NOT_EQ:
            return bool(hi < e.value or lo > e.value)
        if op is Op.NOT_IN:
            return all(bool(hi < v or lo > v) for v in e.values)
        if op is Op.STARTS_WITH:
            p = e.value
            if isinstance(lo, str) and isinstance(hi, str) and isinstance(p, str):
                return lo.startswith(p) and hi.startswith(p)
            return False
    except TypeError:
        return False
    return False

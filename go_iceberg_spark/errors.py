"""Error taxonomy for the engine.

Mirrors the reference's typed error families (reference: errors.go:10-188):
not-found, already-exists, commit-conflict (retryable), requirement-failed,
validation, and IO errors, plus ``is_retryable`` (reference: errors.go:115-123).
"""

from __future__ import annotations


class IcebergError(Exception):
    """Base class for all engine errors."""

    retryable: bool = False


class TableNotFoundError(IcebergError):
    """Raised when a table identifier does not resolve (reference: errors.go:10-30)."""


class NamespaceNotFoundError(IcebergError):
    """Raised when a namespace does not exist."""


class TableAlreadyExistsError(IcebergError):
    """Raised on create of an existing table (reference: errors.go AlreadyExists family)."""


class NamespaceAlreadyExistsError(IcebergError):
    """Raised on create of an existing namespace."""


class NamespaceNotEmptyError(IcebergError):
    """Raised on drop of a namespace that still holds tables or child
    namespaces."""


class NoSuchSnapshotError(IcebergError):
    """Raised when a snapshot id / as-of timestamp resolves to nothing
    (reference: table/table.go:98-121 error path)."""


class CommitConflictError(IcebergError):
    """Optimistic-concurrency conflict during a metadata commit.

    Retryable, matching the reference's ErrCommitConflict
    (reference: errors.go:115-123).
    """

    retryable = True


class RequirementFailedError(IcebergError):
    """A transaction requirement (e.g. assert-ref-snapshot-id) failed
    (reference: catalog/catalog.go:131-180)."""


class ValidationError(IcebergError):
    """Invalid schema / expression / argument (reference: errors.go validation family)."""


class IOError_(IcebergError):
    """Storage-layer failure (reference: errors.go IO family)."""


def is_retryable(err: BaseException) -> bool:
    """True if the operation may be retried (reference: errors.go:115-123)."""
    return isinstance(err, IcebergError) and err.retryable

"""go_iceberg_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of BrobridgeOrg/go-iceberg (reference at
/root/reference, read-only), extended with the relational and LLM-data-
pipeline operators a 100 TB training-data platform needs.

Architecture: a thin, idiomatic API layer (tables, snapshots, expression DSL,
catalog) over Spark DataFrames. Spark/Catalyst owns ALL execution — scans,
joins, aggregation, shuffles; this package owns table metadata (snapshots,
manifests, stats pruning) and operator libraries (dedup, similarity, text).
"""

from .errors import (
    CommitConflictError,
    IcebergError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NamespaceNotFoundError,
    NoSuchSnapshotError,
    RequirementFailedError,
    TableAlreadyExistsError,
    TableNotFoundError,
    ValidationError,
    is_retryable,
)
from .expr import (
    ALWAYS_FALSE,
    ALWAYS_TRUE,
    Expression,
    and_,
    col,
    eq,
    gt,
    gte,
    is_not_null,
    is_null,
    isin,
    lt,
    lte,
    not_,
    not_eq,
    or_,
    starts_with,
    to_column,
)
from .schema import (
    BINARY,
    BOOLEAN,
    DATE,
    DOUBLE,
    FLOAT,
    INT,
    LONG,
    STRING,
    TIME,
    TIMESTAMP,
    TIMESTAMPTZ,
    UUID,
    DecimalType,
    FixedType,
    ListType,
    MapType,
    NestedField,
    Schema,
    StructType,
    from_spark_schema,
    to_spark_schema,
)
from .session import EngineConfig, get_spark

__all__ = [name for name in dir() if not name.startswith("_")]
__version__ = "0.1.0"

"""Table loading for the driver-provided TPC-H-ish parquet testdata.

All reads go through ``spark.read.parquet`` so scans benefit from predicate
pushdown, column pruning and partition coalescing. On a real cluster these
paths would be object-store URIs; nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables small enough (even at 100 TB overall scale these stay dimension-
#: sized) that joins against them should always broadcast. NB: customer and
#: part grow linearly with scale factor — they must NOT be force-broadcast;
#: AQE downgrades their joins to broadcast at small SF on its own.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

#: The testdata parquet stores timestamps as INT64 TIMESTAMP(NANOS), which
#: Spark refuses by default (PARQUET_TYPE_ILLEGAL). We read them as raw
#: nanos (legacy conf, set per-session at load time so it also works under
#: the driver's own SparkSession) and truncate to microsecond timestamps —
#: exactly what DuckDB does when it reads the same files.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone so TIMESTAMP_NTZ→TIMESTAMP normalization and
    # all event-time arithmetic behave identically under any driver session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, name))
    for col in _NANO_TS_COLUMNS.get(name, ()):
        field = df.schema[col]
        if field.dataType.typeName() in ("long", "bigint"):
            # `div` = integer division: keeps full precision (nanos exceed
            # double's 2^53) and floors exactly like DuckDB's nanos→micros.
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif field.dataType.typeName() == "timestamp_ntz":
            # micros-precision files read as NTZ; with the UTC session this
            # cast is a pure re-tag (same wall-clock instant as DuckDB sees).
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixed-size dimension table with a broadcast hint.

    Only tables in :data:`BROADCAST_TABLES` qualify — asking for an
    SF-scaling table here is a scale bug, so it raises instead."""
    if name not in BROADCAST_TABLES:
        raise ValueError(
            f"{name!r} scales with SF and must not be force-broadcast; "
            f"broadcastable dims: {sorted(BROADCAST_TABLES)}"
        )
    return F.broadcast(load(spark, sf_dir, name))

"""Batch table loading.

Spark has no nanosecond timestamp type; the driver's test parquet is
written with ``TIMESTAMP(NANOS)``, which the vectorized reader rejects
outright. With ``spark.sql.legacy.parquet.nanosAsLong=true`` those
columns arrive as int64 nanoseconds; we down-convert to microsecond
``TimestampType`` with integer division (truncation — exactly what
DuckDB does when it narrows ns→µs, so both engines see identical
values).

Column pruning / predicate pushdown still work: the conversion is a
projection on top of the scan, and Catalyst pushes filters on other
columns below it. At 100 TB the same loader applies — nanos parquet is
common from Arrow-native writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs


# (path, mtime) -> ns-column names. SCHEMA metadata only — never row
# data — so memoizing is the same class of cache as Spark's own file
# index caching; the mtime key invalidates it if a table is rewritten.
# A bench/driver session calls load_table hundreds of times over the
# same immutable parquet inputs; one footer open per (table, version)
# instead of one per call.
# Assumption (documented, same as Spark's file-index cache): tables
# are immutable-or-replaced. Rewriting a parquet FILE's bytes in
# place without touching the path's mtime would serve stale schema
# metadata — no engine path here does that (all writers create new
# files), and bench/driver fixtures are read-only.
_NANOS_COLS_CACHE: dict = {}


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns in a parquet file/dir (footer
    metadata only — no data read)."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.types as pat

    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        key = (path, None)
    hit = _NANOS_COLS_CACHE.get(key)
    if hit is not None:
        return hit
    schema = ds.dataset(path, format="parquet").schema
    cols = [
        field.name
        for field in schema
        if pat.is_timestamp(field.type) and field.type.unit == "ns"
    ]
    _NANOS_COLS_CACHE[key] = cols
    return cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load ``{sf_dir}/{name}.parquet`` with nanos→micros normalization."""
    apply_runtime_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str]
) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_file(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Generic batch file loader (parquet / csv / json / orc / text).

    Schema is explicit-first: pass a StructType (or DDL string) for
    csv/json — inference costs an extra full scan and is
    nondeterministic under schema drift, so production readers must
    never rely on it.
    """
    apply_runtime_confs(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif format in ("csv", "json"):
        raise ValueError(
            f"{format} reads require an explicit schema (inference costs a "
            "full extra scan and drifts); pass schema=..."
        )
    # no header default for csv: the schema is user-supplied (names never
    # come from the file), and defaulting header=true silently eats the
    # first data row of headerless files — callers state it explicitly
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.format(format).load(path)

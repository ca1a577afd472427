"""Lakehouse table formats (Delta / Iceberg) — jar-backed paths,
gated with remediation, plus the helpers both log modules share.

The connector jars are not on this environment's classpath; these
entry points keep the API surface present and fail with remediation
instead of a raw ClassNotFoundException (same pattern as the Kafka
source wrapper).

The jar gap no longer blocks either format: the engine carries
from-scratch metadata-layer readers AND writers built on the public
protocol specs — ``sources/deltalog.py`` (transaction-log replay and
``DeltaCommitter``) and ``sources/iceberglog.py`` (version hint ->
metadata JSON -> Avro manifest lists/manifests via
``operators/avrocodec.py``, and ``IcebergCommitter``). Both hand the
live file set to ``spark.read.parquet`` so Catalyst plans the scan
normally. What stays jar-backed, behind each module's loud gates, is
the rest of the protocols: id-mode column mapping, date transforms,
cdc actions, rewrite change feeds and time travel past retention.

Shared here: the parquet footer-stats reader both committers attach
file-skipping stats with, the hidden (file, row position) pair that
every merge-on-read join and delete builder keys on, and the part-file
listing and hive partition-path parser both stream sinks commit from.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_REMEDIATION = {
    "delta": (
        "Delta Lake needs the delta-spark package: submit with "
        "--packages io.delta:delta-spark_2.13:<version> and set "
        "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
    ),
    "iceberg": (
        "Apache Iceberg needs the runtime jar: submit with --packages "
        "org.apache.iceberg:iceberg-spark-runtime-<spark>_2.13:<version> "
        "and configure a catalog (spark.sql.catalog.<name>=...)"
    ),
}


def read_lakehouse(spark: SparkSession, path: str, format: str) -> DataFrame:
    """Read a Delta/Iceberg table, or raise an actionable error when the
    connector is absent."""
    if format not in _REMEDIATION:
        raise ValueError(f"unknown lakehouse format {format!r}")
    try:
        return spark.read.format(format).load(path)
    except Exception as exc:
        # only rewrap CONNECTOR-MISSING failures; a bad path, permission
        # error, or corrupt table with the connector installed must
        # surface as itself, not as bogus --packages advice
        msg = str(exc)
        if any(
            marker in msg
            for marker in (
                "DATA_SOURCE_NOT_FOUND",
                "Failed to find data source",
                "ClassNotFoundException",
            )
        ):
            raise RuntimeError(
                f"{format} connector unavailable: {_REMEDIATION[format]}"
            ) from exc
        raise


_AVRO_REMEDIATION = (
    "Avro needs the spark-avro datasource module: submit with "
    "--packages org.apache.spark:spark-avro_2.13:<spark-version> "
    "(the avro-*.jar files in $SPARK_HOME/jars are Spark's internal "
    "Avro libraries, not the datasource)"
)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Read Avro files, or raise an actionable error when the
    spark-avro datasource module is absent (same gating contract as
    the lakehouse readers)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        msg = str(exc)
        if any(
            marker in msg
            for marker in (
                "DATA_SOURCE_NOT_FOUND",
                "Failed to find data source",
                "ClassNotFoundException",
                "AVRO",
            )
        ):
            raise RuntimeError(
                f"avro datasource unavailable: {_AVRO_REMEDIATION}"
            ) from exc
        raise


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write Avro files with the same availability gating as read_avro."""
    try:
        df.write.mode(mode).format("avro").save(path)
    except Exception as exc:
        msg = str(exc)
        if any(
            marker in msg
            for marker in (
                "DATA_SOURCE_NOT_FOUND",
                "Failed to find data source",
                "ClassNotFoundException",
                "AVRO",
            )
        ):
            raise RuntimeError(
                f"avro datasource unavailable: {_AVRO_REMEDIATION}"
            ) from exc
        raise


def parquet_column_stats(md) -> dict:
    """Per-column (min, max) from a parquet FOOTER (pyarrow
    ``FileMetaData``) — the O(KB) metadata read both lakehouse writers
    use to attach file-skipping stats at commit time (never the
    data): ``DeltaCommitter`` on the executors, inside its one stats
    job, and ``IcebergCommitter`` on the driver. Columns without
    usable statistics are simply absent. long/double/string subset."""
    out: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str)) or isinstance(
                lo, bool
            ):
                continue
            name = col.path_in_schema
            if name in out:
                out[name] = (min(out[name][0], lo), max(out[name][1], hi))
            else:
                out[name] = (lo, hi)
    return out


def local_path(c: Column) -> Column:
    """A file URI as the plain local path the logs store:
    ``file:///t/x``, ``file:/t/x`` and ``/t/x`` all become ``/t/x``."""
    return F.regexp_replace(c, "^file:/*", "/")


def with_row_position(
    df: DataFrame, file_col: str = "file_path", pos_col: str = "pos"
) -> DataFrame:
    """``df`` plus each row's position in its data file, from the
    hidden parquet ``_metadata`` columns: the (file, row index) pair
    that Delta deletion vectors and Iceberg position deletes name, so
    both the delete builders and the merge-on-read joins key on it."""
    return df.withColumn(
        file_col, local_path(F.col("_metadata.file_path"))
    ).withColumn(pos_col, F.col("_metadata.row_index"))


def partition_values_from_path(rel: str, partition_by) -> dict:
    """{col: value} parsed from hive path segments (col=value).
    Spark spells a NULL partition value ``__HIVE_DEFAULT_PARTITION__``
    in the directory name — map it back to None so the metadata
    stores a real null (Delta: JSON null in partitionValues; leaking
    the literal string would make null partitions silently
    unprunable/mismatched)."""
    from urllib.parse import unquote

    vals = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            c, v = seg.split("=", 1)
            if c in partition_by:
                v = unquote(v)
                vals[c] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else v
                )
    return vals


def part_files(table_dir: str, rel_dir: str) -> list:
    """Parquet files under ``rel_dir``, recursive (hive partition
    layout nests col=value directories), relative to the table."""
    out = []
    for root, _, fs in os.walk(os.path.join(table_dir, rel_dir)):
        out += [
            os.path.relpath(os.path.join(root, f), table_dir)
            for f in fs
            if f.endswith(".parquet")
        ]
    return sorted(out)

"""Write-layout queries: results computed THROUGH a materialized
storage layout, proving the layout preserves the data while its plan
properties (partition pruning, shuffle-free bucketed joins) hold.

At 100 TB the write layout IS the read plan (see ``sources/writers``):
partitioning by the pruning column keeps a selective scan from ever
listing the other partitions' files, and bucketing both sides of a
recurring join on its key removes the join shuffle entirely. These two
queries are the driver-facing twins of the pytest plan assertions in
``tests/test_writers.py`` / ``tests/test_plans.py`` — the oracle
checks that a round-trip through the layout returns exactly the same
answer as computing directly on the source parquet.

Fixture layouts are materialized once per (session, sf_dir) into
scratch directories (``queries/feeds.py``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windowed import stabilized_sum
from ..registry import query
from ..sources.batch import load_table
from ..sources.writers import write_bucketed_table, write_partitioned_parquet
from .feeds import memo_dir, scratch_dir

# the bucketed tables of each (session, sf_dir), by catalog name
_BUCKET_TABLES: dict[tuple[str, str], tuple[str, str]] = {}


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    return memo_dir(
        spark, sf_dir, "events_part",
        lambda out: write_partitioned_parquet(
            load_table(spark, sf_dir, "events"), out, ["event_type"]
        ),
    )


_PRUNE_ORACLE = """
SELECT
    event_type,
    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
    count(*) AS n_events,
    CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM events
WHERE event_type IN ('purchase', 'view')
GROUP BY event_type, date_trunc('hour', ts)
ORDER BY event_type, hour
"""


@query("partition_prune_scan", _PRUNE_ORACLE)
def partition_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type rollup read back through an event_type-
    partitioned layout with a partition-column filter: the scan lists
    only the two matching partition directories (PartitionFilters, no
    data filter — plan-asserted in tests/test_writers.py and
    tests/test_plans.py). The oracle computes the same rollup straight
    from the source table, proving the layout round-trip is lossless.
    In production the partition column is the date; event_type stands
    in because the fixture's timestamps span too few days to prune
    meaningfully."""
    out = _partitioned_events_dir(spark, sf_dir)
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("purchase", "view")
    )
    return (
        back.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stabilized_sum("value").alias("total_value"),
        )
        .orderBy("event_type", "hour")
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + customer bucketed by custkey (8 buckets),
    as external tables in temp dirs, once per (session, sf_dir)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    names = _BUCKET_TABLES.get(key)
    if names is not None and all(
        spark.catalog.tableExists(t) for t in names
    ):
        return names
    # Deterministic digest, not Python's PYTHONHASHSEED-randomized
    # hash(): catalog table names stay reproducible across runs.
    tag = int.from_bytes(
        hashlib.md5("|".join(key).encode()).digest()[:4], "big"
    )
    orders_t, cust_t = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    for tbl, src, col in (
        (orders_t, "orders", "o_custkey"),
        (cust_t, "customer", "c_custkey"),
    ):
        write_bucketed_table(
            load_table(spark, sf_dir, src), tbl, col, num_buckets=8,
            path=scratch_dir(f"{tbl}_"),
        )
    _BUCKET_TABLES[key] = (orders_t, cust_t)
    return orders_t, cust_t


_BUCKET_ORACLE = """
SELECT
    c.c_mktsegment,
    count(*) AS n_orders,
    count(DISTINCT o.o_custkey) AS n_customers,
    CAST(sum(CAST(o.o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query("bucketed_join_segments", _BUCKET_ORACLE)
def bucketed_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a co-bucketed orders⋈customer
    join: both tables are bucketed 8-ways on custkey, so the sort-merge
    join reads bucket i against bucket i with NO exchange on either
    side (plan-asserted in tests/test_plans.py). This is the recurring-
    join layout a 100 TB warehouse maintains for its fact⋈dim keys —
    the join shuffle is paid once at write time, then never again.
    The oracle runs the plain join on the source parquet."""
    orders_t, cust_t = _bucketed_tables(spark, sf_dir)
    orders = spark.table(orders_t)
    cust = spark.table(cust_t)
    joined = orders.join(
        cust.hint("merge"), orders.o_custkey == cust.c_custkey
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            stabilized_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )

"""Relational breadth: joins, sorts, top-k, set ops, rollup, analytic
window functions.

The reference exercises none of these (SURVEY.md §2.8) — they are the
engine-completeness layer a user graduating from the reference app
needs for ad-hoc analytics over the same data. Each query is written
Catalyst-first:

- small dimension tables are explicitly ``F.broadcast`` (region,
  nation, customer at any realistic scale) — no shuffle for the dim
  side even before AQE kicks in;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key once,
  and AQE handles skew;
- top-k is ``ORDER BY ... LIMIT k`` → Spark plans
  ``TakeOrderedAndProject`` (no global sort materialization);
- every LIMIT query has a total deterministic order (unique key last)
  so results are reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windowed import stabilized_sum
from ..registry import query
from ..sources.batch import load_table

# --- TPC-H Q1: scan-heavy group-by (pricing summary) --------------------

_Q1_ORACLE = """
SELECT
    l_returnflag,
    l_linestatus,
    CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_base_price,
    CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,10))) AS DECIMAL(25,6)) AS DOUBLE)
        AS sum_disc_price,
    CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,10))) AS DECIMAL(25,6)) AS DOUBLE)
        AS sum_charge,
    CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_qty,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_price,
    CAST(sum(CAST(l_discount AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_disc,
    count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single scan → partial+final hash agg, filter
    pushed to parquet. The canonical scan-bound query at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        stabilized_sum("l_quantity").alias("sum_qty"),
        stabilized_sum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc_price.cast("decimal(27,10)")).cast("decimal(25,6)").cast("double").alias("sum_disc_price"),
        F.sum(charge.cast("decimal(27,10)")).cast("decimal(25,6)").cast("double").alias("sum_charge"),
        stabilized_sum("l_discount").alias("sum_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        (F.col("sum_disc") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


# --- TPC-H Q3 shape: 3-way join + top-k ---------------------------------

_Q3_ORACLE = """
SELECT
    l.l_orderkey,
    CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,10))) AS DECIMAL(25,6)) AS DOUBLE)
        AS revenue,
    o.o_orderdate,
    o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


@query("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → broadcast customer into
    orders, shuffle-join lineitem, agg, TakeOrderedAndProject top-10.
    Total order (unique l_orderkey last) → deterministic LIMIT."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    # Broadcast ONLY the selective customer filter; orders keeps most of
    # its rows under the date predicate, so lineitem ⋈ orders must stay
    # a shuffle join (broadcasting the fact side OOMs at scale). Plan
    # shape pinned in tests/test_plans.py.
    joined = l.join(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
        l.l_orderkey == o.o_orderkey,
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue.cast("decimal(27,10)")).cast("decimal(25,6)").cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- broadcast star join over the full dimension chain ------------------

_STAR_ORACLE = """
SELECT
    r.r_name,
    n.n_name,
    count(*) AS n_customers,
    CAST(sum(CAST(c.c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


@query("star_join_dims", _STAR_ORACLE)
def star_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-chain star join: nation and region are broadcast (tiny
    at any scale factor — 25/5 rows), so the fact side never shuffles
    for the join, only for the final agg."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        stabilized_sum("c_acctbal").alias("total_acctbal"),
    )


# --- semi / anti joins ----------------------------------------------------

_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


@query("customers_without_urgent_orders", _ANTI_ORACLE)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) with a pushed-down probe-side
    predicate. At scale: broadcast the distinct key set when small;
    Catalyst rewrites to BroadcastHashJoin."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_SEMI_ORACLE = """
SELECT DISTINCT s.s_suppkey, s.s_name
FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
              AND l.l_quantity > 45)
"""


@query("suppliers_with_bulk_lines", _SEMI_ORACLE)
def suppliers_with_bulk_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS) with a pushed-down predicate on the
    probe side."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        s.join(l, s.s_suppkey == l.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


# --- set operations -------------------------------------------------------

_SETOPS_ORACLE = """
(SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
 EXCEPT
 SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
UNION
(SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
 INTERSECT
 SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
"""


@query("set_ops_users", _SETOPS_ORACLE)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION (distinct set semantics)."""
    ev = load_table(spark, sf_dir, "events")

    def users(et: str) -> DataFrame:
        return ev.filter(F.col("event_type") == et).select("user_id").distinct()

    return (
        users("purchase")
        .exceptAll(users("error"))
        .distinct()
        .union(users("signup").intersect(users("view")))
        .distinct()
    )


# --- rollup ---------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT
    o_orderpriority,
    o_orderstatus,
    count(*) AS n_orders,
    CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@query("rollup_orders", _ROLLUP_ORACLE)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via ROLLUP — hierarchical subtotals in one pass
    (Spark expands to a single Expand + hash agg, no re-scan)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        stabilized_sum("o_totalprice").alias("total_price"),
    )


# --- distinct / exact dedup on relational keys ---------------------------

_DISTINCT_ORACLE = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""


@query("distinct_order_keys", _DISTINCT_ORACLE)
def distinct_order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (hash-agg dedup) — reference lacks it entirely
    (SURVEY.md §2.8)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
    )


# --- analytic window functions -------------------------------------------

_WINDOW_FN_ORACLE = """
SELECT
    o_custkey,
    o_orderkey,
    o_orderdate,
    row_number() OVER w AS order_seq,
    lag(o_totalprice) OVER w AS prev_price,
    CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_spend,
    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        AS spend_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_functions_orders", _WINDOW_FN_ORACLE)
def window_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions: row_number / lag / running sum / rank.
    One shuffle on the partition key serves all four (same window
    spec); explicit ROWS frame for cross-engine determinism."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
        .over(w_rows)
        .cast("double")
        .alias("running_spend"),
        F.rank().over(w_rank).cast("bigint").alias("spend_rank"),
    )


# --- top-k per group ------------------------------------------------------

_TOPK_GROUP_ORACLE = """
SELECT event_type, event_id, user_id, value
FROM (
    SELECT *,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS rn
    FROM events
) t
WHERE rn <= 5
"""


@query("topk_per_group", _TOPK_GROUP_ORACLE)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 rows per group via ranked window — the distributed top-k
    idiom (each partition keeps k candidates; no global sort)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "event_id", "user_id", "value")
    )


# --- TPC-H Q6: pure scan + selective filter + single aggregate -----------

_Q6_ORACLE = """
SELECT
    CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,10))) AS DECIMAL(25,6)) AS DOUBLE)
        AS revenue,
    count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate pushes to the parquet scan; the
    agg is a single partial+final pair with no grouping — the purest
    scan-bound query. At 100 TB this is bandwidth-limited by design."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(27,10)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- TPC-H Q5 shape: supplier-nation revenue rollup -----------------------

_Q5_ORACLE = """
SELECT
    n.n_name,
    CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,10))) AS DECIMAL(25,6)) AS DOUBLE)
        AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


@query("q5_supplier_nation_revenue", _Q5_ORACLE)
def q5_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact⋈fact shuffle join (lineitem⋈orders) plus a
    broadcast dimension chain (supplier→nation→region)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(
        F.sum(revenue.cast("decimal(27,10)")).cast("decimal(25,6)").cast("double").alias("revenue")
    )


# --- TPC-H Q10 shape: returned-item customers, top 20 ---------------------

_Q10_ORACLE = """
SELECT
    c.c_custkey,
    c.c_name,
    CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,10))) AS DECIMAL(25,6)) AS DOUBLE)
        AS revenue,
    n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: selective fact filter, two joins, grouped
    revenue, deterministic top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer is the LARGEST TPC-H dimension (15M rows at sf100) —
        # no broadcast hint; AQE broadcasts only if actually small
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue.cast("decimal(27,10)")).cast("decimal(25,6)").cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- exact quantiles -------------------------------------------------------

_QUANTILE_ORACLE = """
SELECT
    o_orderpriority,
    quantile_cont(o_totalprice, 0.25) AS p25,
    quantile_cont(o_totalprice, 0.5) AS p50,
    quantile_cont(o_totalprice, 0.75) AS p75,
    quantile_cont(o_totalprice, 0.95) AS p95
FROM orders
GROUP BY o_orderpriority
"""


@query("quantiles_order_price", _QUANTILE_ORACLE)
def quantiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``). The production twin at
    100 TB is ``percentile_approx`` (t-digest sketch, single pass,
    bounded memory) — exact percentile requires a per-group sort."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.25).alias("p25"),
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.75).alias("p75"),
        F.percentile("o_totalprice", 0.95).alias("p95"),
    )


# --- advanced window functions: ranks, distribution, value access ---------

_WINDOW_FN2_ORACLE = """
SELECT
    o_custkey,
    o_orderkey,
    ntile(4) OVER w AS spend_quartile,
    percent_rank() OVER w AS spend_pct_rank,
    cume_dist() OVER w AS spend_cume_dist,
    first_value(o_orderkey) OVER w AS cheapest_order,
    last_value(o_orderkey) OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    ) AS priciest_order,
    lead(o_orderkey) OVER w AS next_pricier_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


@query("window_functions_advanced", _WINDOW_FN2_ORACLE)
def window_functions_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist / first_value / last_value /
    lead over one window spec (single shuffle+sort serves all six).
    percent_rank/cume_dist are ratios of identical integers → exact
    cross-engine doubles."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("spend_quartile"),
        F.percent_rank().over(w).alias("spend_pct_rank"),
        F.cume_dist().over(w).alias("spend_cume_dist"),
        F.first("o_orderkey").over(w).alias("cheapest_order"),
        F.last("o_orderkey").over(w_full).alias("priciest_order"),
        F.lead("o_orderkey").over(w).alias("next_pricier_order"),
    )


# --- statistical moments from stabilized sums ------------------------------

_MOMENTS_ORACLE = """
WITH s AS (
    SELECT
        l_returnflag,
        count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS s1,
        CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,8))) AS DOUBLE) AS s2
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT
    l_returnflag,
    n,
    s1 / n AS mean_qty,
    (s2 - s1 * s1 / n) / n AS var_pop_qty,
    (s2 - s1 * s1 / n) / (n - 1) AS var_samp_qty,
    sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_qty
FROM s
"""


@query("stats_moments", _MOMENTS_ORACLE)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev derived from decimal-stabilized power sums —
    NOT the built-in stddev (engines use order-dependent streaming
    algorithms whose results differ in the last ulp); the sum-of-squares
    formulation makes the moments bit-exact across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    q2 = (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(27,8)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        stabilized_sum("l_quantity").alias("s1"),
        F.sum(q2).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return s.select(
        "l_returnflag",
        "n",
        (s1 / n).alias("mean_qty"),
        ((s2 - s1 * s1 / n) / n).alias("var_pop_qty"),
        ((s2 - s1 * s1 / n) / (n - 1)).alias("var_samp_qty"),
        F.sqrt((s2 - s1 * s1 / n) / (n - 1)).alias("stddev_qty"),
    )


# --- multiset set operations ------------------------------------------------

_MULTISET_ORACLE = """
(SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
 EXCEPT ALL
 SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P')
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
"""


@query("multiset_ops", _MULTISET_ORACLE)
def multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL (bag semantics — duplicates counted)."""
    o = load_table(spark, sf_dir, "orders")
    f_rows = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    p_rows = o.filter(F.col("o_orderstatus") == "P").select("o_orderpriority")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
    ).select("o_orderpriority")
    return f_rows.exceptAll(p_rows).intersectAll(recent)


# --- full outer reconciliation ---------------------------------------------

_FULL_OUTER_ORACLE = """
WITH o AS (
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
               AS total_spend
    FROM orders GROUP BY o_custkey
),
e AS (
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
)
SELECT
    coalesce(o.o_custkey, e.user_id) AS entity_id,
    o.n_orders,
    o.total_spend,
    e.n_events,
    CASE WHEN o.o_custkey IS NOT NULL AND e.user_id IS NOT NULL THEN 'both'
         WHEN o.o_custkey IS NOT NULL THEN 'orders_only'
         ELSE 'events_only' END AS presence
FROM o FULL OUTER JOIN e ON o.o_custkey = e.user_id
"""


@query("full_outer_reconciliation", _FULL_OUTER_ORACLE)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregate ledgers (order spend per
    customer vs event activity per user) — the reconciliation shape
    that surfaces entities present on only one side. Both inputs are
    pre-aggregated before the join, so the full-outer shuffle carries
    one row per entity, not raw facts."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            stabilized_sum("o_totalprice").alias("total_spend"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = o.join(e, o.o_custkey == e.user_id, "full_outer")
    return j.select(
        F.coalesce("o_custkey", "user_id").alias("entity_id"),
        "n_orders",
        "total_spend",
        "n_events",
        F.when(
            F.col("o_custkey").isNotNull() & F.col("user_id").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("o_custkey").isNotNull(), F.lit("orders_only"))
        .otherwise(F.lit("events_only"))
        .alias("presence"),
    )


# --- RANGE-frame window: trailing 30-day spend ------------------------------

_RANGE_FRAME_ORACLE = """
WITH d AS (
    SELECT o_orderkey, o_custkey, o_totalprice,
           datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS day_no
    FROM orders
)
SELECT o_orderkey, o_custkey, CAST(day_no AS BIGINT) AS day_no,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) OVER (
            PARTITION BY o_custkey ORDER BY day_no
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_30d_spend,
       count(*) OVER (
            PARTITION BY o_custkey ORDER BY day_no
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
       ) AS trailing_30d_orders
FROM d
"""


@query("window_range_frame", _RANGE_FRAME_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window: per order, the customer's trailing
    30-day spend and order count — the frame is VALUE-based (all rows
    within 30 day-numbers), not row-count-based, so same-day peers are
    always included regardless of tie order (which is exactly what
    makes it deterministic cross-engine without a unique tiebreak).
    Partitioned by customer — parallel across keys at any scale; the
    sum accumulates in DECIMAL(25,4) on both engines."""
    o = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    )
    d = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        day_no.cast("bigint").alias("day_no"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-30, Window.currentRow)
    )
    return d.select(
        "o_orderkey",
        "o_custkey",
        "day_no",
        F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


# --- approximate quantile sketch (tolerance-checked) -----------------------

# percentile_approx guarantees rank error <= n/accuracy (1e-4 of the
# group here); the query brackets each sketch value between the EXACT
# interpolated percentiles at q +/- 0.001 (10x the guaranteed rank
# error) computed in the same aggregation, and emits the exact
# percentiles plus the bracket booleans. The oracle emits the exact
# percentiles and literal TRUE — sketch drift past its contract flips
# the driver hash.
_QUANTILE_TOL_ORACLE = """
SELECT
    o_orderpriority,
    quantile_cont(o_totalprice, 0.5) AS p50,
    quantile_cont(o_totalprice, 0.9) AS p90,
    quantile_cont(o_totalprice, 0.99) AS p99,
    true AS p50_ok, true AS p90_ok, true AS p99_ok
FROM orders
GROUP BY o_orderpriority
"""


@query("quantiles_order_price_approx", _QUANTILE_TOL_ORACLE)
def quantiles_order_price_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass bounded-memory percentile SKETCH per group
    (``percentile_approx``, accuracy 10000) — the production twin of
    the exact ``quantiles_order_price``, with a TOLERANCE oracle:
    sketch internals are engine-specific (SURVEY.md §5), so the hash
    checks the sketch's rank-error contract, not its raw value."""
    o = load_table(spark, sf_dir, "orders")
    qs = [0.499, 0.5, 0.501, 0.899, 0.9, 0.901, 0.989, 0.99, 0.991]
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", [0.5, 0.9, 0.99], 10000
        ).alias("ap"),
        F.percentile("o_totalprice", qs).alias("ex"),
    )
    def ok(i: int) -> F.Column:
        return (F.col("ap")[i] >= F.col("ex")[3 * i]) & (
            F.col("ap")[i] <= F.col("ex")[3 * i + 2]
        )
    return agg.select(
        "o_orderpriority",
        F.col("ex")[1].alias("p50"),
        F.col("ex")[4].alias("p90"),
        F.col("ex")[7].alias("p99"),
        ok(0).alias("p50_ok"),
        ok(1).alias("p90_ok"),
        ok(2).alias("p99_ok"),
    )


# --- explicit skew salting (result == plain join, proven) -------------------

_SALTED_ORACLE = """
SELECT
    c.c_nationkey,
    count(*) AS n_events,
    CAST(sum(CAST(e.value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""


@query("skewed_join_salted", _SALTED_ORACLE)
def skewed_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting made driver-checkable: the events fact side is
    scattered across 8 salt sub-keys (pure row-content hash — never
    rand(), which breaks exactly-once under task retry), the customer
    side replicated 8x, joined on (key, salt), then re-aggregated.
    The oracle is the PLAIN join — proving salting changes only the
    shuffle distribution, never the result. This is the explicit
    fallback for pathological hot keys AQE's skew-join can't split
    (one user = 10% of a 100 TB fact table)."""
    from ..operators.skew import salted_join

    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = salted_join(e, c, "c_custkey", salt_buckets=8)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        stabilized_sum("value").alias("total_value"),
    )


# --- bloom-filter membership as a DATA operator -----------------------------

_BL_BITS = 60000  # total filter bits (~0.15 load at sf0.01 build side)
_BL_WORD = 60  # bits per word (sign bit + headroom never touched)
_BL_K = 3  # hash functions


def _bl_pos_sql(k: int, key_expr: str) -> str:
    from ..functions.hashing import h60_sql

    return (
        h60_sql(f"('bl{k}|' || CAST({key_expr} AS VARCHAR))")
        + f" % {_BL_BITS}"
    )


_BL_BUILD_ROWS = " UNION ALL ".join(
    f"SELECT {_bl_pos_sql(k, 'o_orderkey')} AS pos FROM urgent"
    for k in range(_BL_K)
)

_BL_PROBE_HIT = " AND ".join(
    f"(coalesce((SELECT w.bits FROM bloom w WHERE w.word = "
    f"({_bl_pos_sql(k, 'p.l_orderkey')}) // {_BL_WORD}), 0)"
    f" & (1::BIGINT << (({_bl_pos_sql(k, 'p.l_orderkey')}) % {_BL_WORD})))"
    f" != 0"
    for k in range(_BL_K)
)

_BLOOM_ORACLE = f"""
WITH urgent AS (
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
positions AS (
    {_BL_BUILD_ROWS}
),
bloom AS (
    SELECT pos // {_BL_WORD} AS word,
           bit_or(1::BIGINT << (pos % {_BL_WORD})) AS bits
    FROM positions GROUP BY word
),
probes AS (
    SELECT DISTINCT l_orderkey FROM lineitem
),
checked AS (
    SELECT p.l_orderkey,
           ({_BL_PROBE_HIT}) AS bloom_hit,
           EXISTS (SELECT 1 FROM urgent u
                   WHERE u.o_orderkey = p.l_orderkey) AS member
    FROM probes p
)
SELECT count(*) AS n_probed,
       count(CASE WHEN bloom_hit THEN 1 END) AS n_hits,
       count(CASE WHEN member THEN 1 END) AS n_members,
       count(CASE WHEN bloom_hit AND NOT member THEN 1 END) AS n_false_pos,
       count(CASE WHEN member AND NOT bloom_hit THEN 1 END) AS n_false_neg
FROM checked
"""


@query("bloom_membership_audit", _BLOOM_ORACLE)
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter as a DATA operator (complementing the optimizer's
    runtime bloom pruning): a 60000-bit filter over the urgent-order
    key set, packed into 60-bit words (the sign bit is never touched,
    so two's-complement shift semantics can't diverge), built with
    bit_or aggregation and broadcast to probe every distinct lineitem
    key. Output is the exact confusion ledger — and the oracle proves
    the no-false-negative guarantee (n_false_neg = 0) cross-engine,
    because both engines build the identical h60-salted filter. The
    filter is 20 words at ANY build-side size: this is the semi-join
    pre-filter a 100 TB pipeline ships to the fact scan."""
    from ..functions.hashing import h60

    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )

    def pos(k: int, col):
        return (
            h60(F.concat(F.lit(f"bl{k}|"), col.cast("string"))) % _BL_BITS
        )

    # one scan: explode the K hash positions per key rather than
    # unioning K scans of the build side (r12; same rows into the
    # order-insensitive bit_or)
    positions = urgent.select(
        F.explode(
            F.array(
                *[pos(k, F.col("o_orderkey")) for k in range(_BL_K)]
            )
        ).alias("pos")
    )
    # pyspark's shiftleft() takes a literal shift count only — the
    # column-shift form goes through the SQL expression
    mask_expr = f"shiftleft(1L, cast(pos % {_BL_WORD} as int))"
    bloom = (
        positions.select(
            (F.col("pos") / _BL_WORD).cast("bigint").alias("word"),
            F.expr(mask_expr).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # pack the whole filter into ONE row of (word-ordered) arrays
    packed = bloom.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "bits"))),
            lambda st: st.bits,
        ).alias("bits_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "bits"))),
            lambda st: st.word,
        ).alias("word_arr"),
    )

    probes = (
        load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    )
    checked = probes.crossJoin(F.broadcast(packed))
    for k in range(_BL_K):
        checked = checked.withColumn(f"pk{k}", pos(k, F.col("l_orderkey")))
    hit = None
    for k in range(_BL_K):
        word_idx = F.array_position(
            F.col("word_arr"), (F.col(f"pk{k}") / _BL_WORD).cast("bigint")
        )
        bits = F.when(
            word_idx > 0, F.element_at(F.col("bits_arr"), word_idx.cast("int"))
        ).otherwise(F.lit(0).cast("long"))
        mask = F.expr(f"shiftleft(1L, cast(pk{k} % {_BL_WORD} as int))")
        this = bits.bitwiseAND(mask) != 0
        hit = this if hit is None else (hit & this)
    member = F.col("o_orderkey").isNotNull()
    checked = checked.withColumn("bloom_hit", hit).join(
        urgent,
        F.col("l_orderkey") == urgent.o_orderkey,
        "left",
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.count(F.when(F.col("bloom_hit"), 1)).alias("n_hits"),
        F.count(F.when(member, 1)).alias("n_members"),
        F.count(F.when(F.col("bloom_hit") & ~member, 1)).alias("n_false_pos"),
        F.count(F.when(member & ~F.col("bloom_hit"), 1)).alias("n_false_neg"),
    )


# --- SCD type-2 temporal dimension join -------------------------------------

_SCD_SPLIT = "1995-07-01"

_SCD_ORACLE = f"""
WITH dim AS (
    SELECT n_nationkey, 1 AS version,
           TIMESTAMP '1990-01-01 00:00:00' AS eff_from,
           TIMESTAMP '{_SCD_SPLIT} 00:00:00' AS eff_to,
           CAST(n_nationkey AS DOUBLE) / 100.0 AS tax_rate
    FROM nation
    UNION ALL
    SELECT n_nationkey, 2,
           TIMESTAMP '{_SCD_SPLIT} 00:00:00',
           TIMESTAMP '2999-01-01 00:00:00',
           CAST(n_nationkey + 5 AS DOUBLE) / 100.0
    FROM nation
)
SELECT o.o_orderkey, c.c_nationkey AS nationkey, d.version,
       d.tax_rate,
       CAST(count(*) OVER () AS BIGINT) AS n_total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN dim d ON d.n_nationkey = c.c_nationkey
          AND o.o_orderdate >= d.eff_from
          AND o.o_orderdate < d.eff_to
"""


@query("scd2_dimension_join", _SCD_ORACLE)
def scd2_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) join: a versioned dimension
    (two effective-dated versions per nation, synthesized identically
    on both engines) matched to each fact row by point-in-interval
    containment on the order date — every order gets the attribute
    value that was in force WHEN IT HAPPENED. The interval join is an
    equi-join on the dimension key plus a range residual, so it plans
    as a normal broadcast/hash join with a filter — never a
    cross-product; exactly-one-version-per-fact is guaranteed by the
    non-overlapping validity ranges (and visible in the count)."""
    nation = load_table(spark, sf_dir, "nation")
    v1 = nation.select(
        "n_nationkey",
        F.lit(1).alias("version"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("eff_from"),
        F.lit(f"{_SCD_SPLIT} 00:00:00").cast("timestamp").alias("eff_to"),
        (F.col("n_nationkey").cast("double") / 100.0).alias("tax_rate"),
    )
    v2 = nation.select(
        "n_nationkey",
        F.lit(2).alias("version"),
        F.lit(f"{_SCD_SPLIT} 00:00:00").cast("timestamp").alias("eff_from"),
        F.lit("2999-01-01 00:00:00").cast("timestamp").alias("eff_to"),
        ((F.col("n_nationkey") + 5).cast("double") / 100.0).alias("tax_rate"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(dim),
            (F.col("n_nationkey") == F.col("c_nationkey"))
            & (F.col("o_orderdate") >= F.col("eff_from"))
            & (F.col("o_orderdate") < F.col("eff_to")),
        )
    ).localCheckpoint(eager=False)
    # global total as a 1-row agg broadcast back onto the rows — the
    # same pattern as pagerank's n_nodes / the bigram total; a
    # count(*) OVER () window would funnel every fact row through one
    # task (checkpoint barrier keeps the join subtree single-executed)
    n_total = joined.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return joined.crossJoin(F.broadcast(n_total)).select(
        "o_orderkey",
        F.col("c_nationkey").alias("nationkey"),
        "version",
        "tax_rate",
        "n_total",
    )


# --- equi-depth histogram ---------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH ranked AS (
    SELECT o_totalprice,
           ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
)
SELECT decile,
       count(*) AS n,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM ranked
GROUP BY decile
"""


@query("equidepth_histogram", _EQUIDEPTH_ORACLE)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order value — equal COUNT per
    bucket with data-driven edges, the complement of the fixed-width
    `value_histogram` and the statistic a CBO stores for skewed
    columns. Deterministic under ties via the orderkey tiebreak. The
    oracle's single global ntile is the semantics; for a 100 TB
    column, production computes the same deciles from
    `approx_percentile` edges or the two-level prefix-sum rank —
    this query IS the exactness anchor for those."""
    from pyspark.sql import Window

    from ..operators.skew import hist_running_totals, input_is_large

    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    if not input_is_large(sf_dir, "orders"):
        # small input: the single global ntile window is cheapest
        ranked = o.select(
            "o_totalprice",
            F.ntile(10)
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .alias("decile"),
        )
    else:
        # large input: derive each row's global rank from the
        # two-level distributed prefix sum (total order via the
        # orderkey tiebreak), then map rank -> ntile bucket with the
        # SQL ntile formula (first n%10 buckets hold one extra row).
        # No Exchange SinglePartition over fact-sized rows.
        ranked = hist_running_totals(
            o, ["o_totalprice", "o_orderkey"], {"rk": F.lit(1)}, large=True
        )
        # row count from a separate column-pruned agg (one tiny job)
        # broadcast back — the pagerank n_nodes pattern
        n_total = o.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))
        # pure-integer ntile formula (ceil(a/b) = (a+b-1) DIV b): the
        # first n%10 buckets hold one extra row; exact at any n,
        # no double division anywhere
        ranked = (
            ranked.crossJoin(F.broadcast(n_total))
            .withColumn("_q", F.expr("n_tot DIV 10"))
            .withColumn("_rem", F.expr("n_tot % 10"))
            .withColumn("_bs", F.expr("(_q + 1) * _rem"))
            .select(
                "o_totalprice",
                F.expr(
                    "CAST(CASE WHEN rk <= _bs"
                    " THEN (rk + _q) DIV (_q + 1)"
                    " ELSE _rem + (rk - _bs + _q - 1) DIV _q"
                    " END AS INT)"
                ).alias("decile"),
            )
        )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# --- z-order (Morton) layout for data skipping ------------------------------
#
# The 100 TB layout lever: sorting files by an interleaved-bit key
# makes min/max footer stats tight on BOTH dimensions at once, so
# two-dimensional predicates (customer AND date) prune files that a
# single-column sort could only prune on its leading key.  The bit
# interleave is pure integer arithmetic, generated identically for
# both engines; the per-bucket ledger below is exactly the min/max
# span a reader consults to skip.

_Z_BITS = 10


def _morton_terms(x: str, y: str, shiftfmt) -> str:
    terms = [shiftfmt(x, k, 2 * k) for k in range(_Z_BITS)]
    terms += [shiftfmt(y, k, 2 * k + 1) for k in range(_Z_BITS)]
    return " + ".join(terms)


_MORTON_SPARK = _morton_terms(
    "x", "y",
    lambda c, k, p: f"shiftleft(shiftright({c}, {k}) % 2, {p})",
)
_MORTON_DUCK = _morton_terms(
    "x", "y",
    lambda c, k, p: f"((({c} >> {k}) % 2) << {p})",
)

_ZORDER_ORACLE = f"""
WITH dims AS (
    SELECT
        o_custkey % 1024 AS x,
        CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS BIGINT) % 1024 AS y
    FROM orders
),
z AS (
    SELECT x, y, {_MORTON_DUCK} AS zval FROM dims
)
SELECT
    zval >> 12 AS z_bucket,
    count(*) AS n_rows,
    CAST(min(x) AS BIGINT) AS min_x,
    CAST(max(x) AS BIGINT) AS max_x,
    CAST(min(y) AS BIGINT) AS min_y,
    CAST(max(y) AS BIGINT) AS max_y
FROM z
GROUP BY z_bucket
"""


@query("zorder_layout", _ZORDER_ORACLE)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day) plus
    the per-bucket min/max ledger that data skipping reads. The
    interleave is 20 shift-mask-add terms of whole-stage-codegen
    integer arithmetic — zero Python, zero shuffle until the one
    bucket aggregation. Feed ``zval`` to ``write_sorted_parquet`` to
    materialize the layout; this query proves the key and the pruning
    spans cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 1024).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).cast("bigint")
            % 1024
        ).alias("y"),
    )
    z = dims.select("x", "y", F.expr(_MORTON_SPARK).alias("zval"))
    return (
        z.select(F.expr("zval >> 12").alias("z_bucket"), "x", "y")
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


_HILBERT_STEPS_SQL = """h0 AS (SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd FROM dims),
h1 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 512) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 512) > 0 THEN 1 ELSE 0 END) = 1 THEN 512 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 512) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 512) > 0 THEN 1 ELSE 0 END) = 1 THEN 512 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 262144 * (CASE WHEN (CASE WHEN (hx & 512) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 512) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 512) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 512) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h0),
h2 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 256) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 256) > 0 THEN 1 ELSE 0 END) = 1 THEN 256 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 256) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 256) > 0 THEN 1 ELSE 0 END) = 1 THEN 256 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 65536 * (CASE WHEN (CASE WHEN (hx & 256) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 256) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 256) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 256) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h1),
h3 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 128) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 128) > 0 THEN 1 ELSE 0 END) = 1 THEN 128 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 128) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 128) > 0 THEN 1 ELSE 0 END) = 1 THEN 128 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 16384 * (CASE WHEN (CASE WHEN (hx & 128) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 128) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 128) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 128) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h2),
h4 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 64) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 64) > 0 THEN 1 ELSE 0 END) = 1 THEN 64 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 64) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 64) > 0 THEN 1 ELSE 0 END) = 1 THEN 64 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 4096 * (CASE WHEN (CASE WHEN (hx & 64) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 64) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 64) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 64) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h3),
h5 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 32) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 32) > 0 THEN 1 ELSE 0 END) = 1 THEN 32 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 32) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 32) > 0 THEN 1 ELSE 0 END) = 1 THEN 32 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 1024 * (CASE WHEN (CASE WHEN (hx & 32) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 32) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 32) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 32) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h4),
h6 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 16) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 16) > 0 THEN 1 ELSE 0 END) = 1 THEN 16 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 16) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 16) > 0 THEN 1 ELSE 0 END) = 1 THEN 16 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 256 * (CASE WHEN (CASE WHEN (hx & 16) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 16) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 16) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 16) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h5),
h7 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 8) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 8) > 0 THEN 1 ELSE 0 END) = 1 THEN 8 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 8) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 8) > 0 THEN 1 ELSE 0 END) = 1 THEN 8 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 64 * (CASE WHEN (CASE WHEN (hx & 8) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 8) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 8) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 8) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h6),
h8 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 4) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 4) > 0 THEN 1 ELSE 0 END) = 1 THEN 4 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 4) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 4) > 0 THEN 1 ELSE 0 END) = 1 THEN 4 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 16 * (CASE WHEN (CASE WHEN (hx & 4) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 4) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 4) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 4) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h7),
h9 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 2) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 2) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 2) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 2) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 4 * (CASE WHEN (CASE WHEN (hx & 2) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 2) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 2) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 2) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h8),
h10 AS (SELECT x, y, CASE WHEN (CASE WHEN (hy & 1) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 1) > 0 THEN 1 ELSE 0 END) = 1 THEN 1 - 1 - hy ELSE hy END) ELSE hx END AS hx, CASE WHEN (CASE WHEN (hy & 1) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (hx & 1) > 0 THEN 1 ELSE 0 END) = 1 THEN 1 - 1 - hx ELSE hx END) ELSE hy END AS hy, hd + 1 * (CASE WHEN (CASE WHEN (hx & 1) > 0 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN (hy & 1) > 0 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN (hx & 1) > 0 THEN 1 ELSE 0 END) = 0 THEN 1 WHEN (CASE WHEN (hy & 1) > 0 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS hd FROM h9)"""

_HILBERT_ORACLE = f"""
WITH dims AS (
    SELECT
        o_custkey % 1024 AS x,
        CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS BIGINT) % 1024 AS y
    FROM orders
),
{_HILBERT_STEPS_SQL}
SELECT
    hd >> 12 AS h_bucket,
    count(*) AS n_rows,
    CAST(min(x) AS BIGINT) AS min_x,
    CAST(max(x) AS BIGINT) AS max_x,
    CAST(min(y) AS BIGINT) AS min_y,
    CAST(max(y) AS BIGINT) AS max_y
FROM h10
GROUP BY h_bucket
"""


@query("hilbert_layout", _HILBERT_ORACLE)
def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (customer, order-day) — the
    zorder_layout twin on the curve Iceberg/Databricks reach for when
    multi-dimensional locality matters: Hilbert never makes the long
    diagonal jumps Morton interleaving does, so bucket min/max spans
    (the ledger data skipping actually reads) are tighter for the
    same bucket width. The standard xy2d walk (per bit: quadrant
    digit d += s²·((3·rx) XOR ry), then reflect+swap rotation)
    unrolls to 10 iterations of branch-free-joinable integer CASE
    arithmetic — whole-stage codegen, zero Python, zero shuffle until
    the one bucket aggregation; the XOR term is expressed as a CASE
    over (rx, ry) so both engines evaluate byte-identical integer
    expressions. Same ledger output shape as zorder_layout, so the
    two layouts' pruning spans are directly comparable."""
    o = load_table(spark, sf_dir, "orders")
    df = o.select(
        (F.col("o_custkey") % 1024).alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).cast("bigint")
            % 1024
        ).alias("y"),
    ).select(
        "x", "y",
        F.col("x").alias("hx"),
        F.col("y").alias("hy"),
        F.lit(0).cast("bigint").alias("hd"),
    )
    for i in range(10):
        sv = 512 >> i
        rx = F.when((F.col("hx").bitwiseAND(F.lit(sv))) > 0, 1).otherwise(0)
        ry = F.when((F.col("hy").bitwiseAND(F.lit(sv))) > 0, 1).otherwise(0)
        inc = F.lit(sv * sv) * (
            F.when((rx == 0) & (ry == 0), 0)
            .when(rx == 0, 1)
            .when(ry == 1, 2)
            .otherwise(3)
        )
        newx = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(sv) - 1 - F.col("hy")).otherwise(
                F.col("hy")
            ),
        ).otherwise(F.col("hx"))
        newy = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(sv) - 1 - F.col("hx")).otherwise(
                F.col("hx")
            ),
        ).otherwise(F.col("hy"))
        df = df.select(
            "x", "y",
            newx.alias("hx"),
            newy.alias("hy"),
            (F.col("hd") + inc).alias("hd"),
        )
    return (
        df.select(F.shiftright("hd", 12).alias("h_bucket"), "x", "y")
        .groupBy("h_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


# --- schema evolution: union across drifted schemas -------------------------

_SCHEMA_EVO_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
),
unioned AS (
    SELECT o_orderkey, o_custkey, o_totalprice,
           o_orderstatus, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM v1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderstatus, o_orderpriority
    FROM v2
)
SELECT coalesce(o_orderstatus, 'unknown') AS status,
       coalesce(o_orderpriority, 'unknown') AS priority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
           AS total
FROM unioned
GROUP BY status, priority
"""


@query("schema_evolution_union", _SCHEMA_EVO_ORACLE)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DRIFT across batch generations: two projections of the
    same feed with different column sets (the v1 writer had
    o_orderstatus, the v2 writer replaced it with o_orderpriority)
    are reconciled with ``unionByName(allowMissingColumns=True)`` —
    missing columns null-fill, positions don't matter — then
    aggregated with explicit unknown-bucket coalescing. The batch twin
    of the streaming path's schema-drift ``from_json`` handling."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy(
        F.coalesce("o_orderstatus", F.lit("unknown")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("unknown")).alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
        .cast("double")
        .alias("total"),
    )


# --- skyline / Pareto frontier ----------------------------------------------

_SKYLINE_ORACLE = """
WITH p AS (
    SELECT l_partkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(min(round(l_extendedprice * 100, 0)) AS BIGINT) AS min_price_c
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT *,
           min(min_price_c) OVER (ORDER BY total_qty DESC, min_price_c ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS best_price_so_far
    FROM p
)
SELECT l_partkey, total_qty,
       round(min_price_c / 100.0, 6) AS min_price
FROM ranked
WHERE best_price_so_far IS NULL OR min_price_c < best_price_so_far
ORDER BY l_partkey
"""


@query("pareto_skyline_parts", _SKYLINE_ORACLE)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query (the classic Pareto-frontier operator): parts not
    DOMINATED on (maximize total quantity sold, minimize best price) —
    a part survives iff no other part is at least as good on both and
    strictly better on one. After the per-part aggregation the
    sort-based sweep does it in one pass: ordered by quantity
    descending (price ascending as the deterministic tie-break), a
    part is on the frontier iff its price strictly beats every
    earlier (≥ quantity) part's running minimum. The window runs over
    the aggregated parts relation, not raw rows; production skylines
    over huge dimension sets range-partition by the sort key and
    merge per-partition frontiers."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
            "total_qty"
        ),
        F.min(F.round(F.col("l_extendedprice") * 100, 0))
        .cast("bigint")
        .alias("min_price_c"),
    )
    w = (
        Window.orderBy(F.desc("total_qty"), F.asc("min_price_c"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = p.withColumn(
        "best_price_so_far", F.min("min_price_c").over(w)
    )
    return (
        ranked.filter(
            F.col("best_price_so_far").isNull()
            | (F.col("min_price_c") < F.col("best_price_so_far"))
        )
        .select(
            "l_partkey",
            "total_qty",
            F.round(F.col("min_price_c") / 100.0, 6).alias("min_price"),
        )
        .orderBy("l_partkey")
    )

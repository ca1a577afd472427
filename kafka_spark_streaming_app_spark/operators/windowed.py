"""Event-time windowed aggregation — the reference's flagship query.

Re-expresses ``create_windowed_aggregations`` (reference
``ecommerce_streaming.py:65-85``): sliding event-time window (1 min /
30 s) × composite grouping keys, with aggregates
count / sum / avg / approximate distinct / max / min (A1-A6 in
SURVEY.md §2.5).

Scale notes (100 TB posture):

- The whole operator is one ``groupBy(window(...), *keys).agg(...)`` —
  Spark plans it as partial (map-side) + final hash aggregation with a
  single shuffle on ``(window, *keys)``. There is nothing to
  hand-schedule; widening the window slide multiplies state, not
  shuffle width.
- ``approx_distinct`` (Spark's built-in DataSketches HLL,
  ``lgConfigK=12``, about 1.6% relative standard error) keeps per-group
  state bounded instead of O(distinct users); at 100 TB an exact
  distinct per sliding window would dominate state-store size. It
  replaces the reference's ``approx_count_distinct`` (HLL++, 5%), whose
  imperative buffer made Spark generate the aggregate's projections
  again in every task of every trigger; the sketch plans as an
  ``ObjectHashAggregate`` with one object slot (still not
  whole-stage-codegen'd). What the swap removes is that fixed per-task
  cost, so it pays off on small micro-batches with few distinct users
  per group and few keys per task, such as the reference's. It does not
  pay off on large ones: a group's sketch is smaller than HLL++'s
  416-byte buffer only below about 40 distinct users, and from about
  400 it is dense at 4,136 bytes; and ``ObjectHashAggregate`` falls back
  to sort-based aggregation above 128 keys per task. SCALE.md ("Streaming state") has the measured state,
  shuffle and addBatch cost at both sizes. The state schema differs, so
  a streaming checkpoint written with HLL++ fails Spark's state-schema
  check on restart. The exact twin exists only for the DuckDB oracle
  (cross-engine HLL sketches never match, SURVEY.md §2.5 A4).
- ``stabilize_sums=True`` routes double sums through DECIMAL(25,4) so
  the result is bit-identical regardless of partition/merge order (and
  across engines) — used for oracle-checked queries. Production keeps
  plain double sums (reference semantics, faster).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stabilized_sum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent, cross-engine-exact sum of a double column.

    Double summation is not associative; different partitionings (or
    engines) give last-ulp differences. Casting each addend to
    DECIMAL(25, scale) makes the sum exact and order-independent, then
    the total is cast back to double. Used wherever a query result is
    hash-compared against an external oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(25,{scale})")).cast("double")


def approx_distinct(col: Column | str) -> Column:
    """Approximate distinct count (BIGINT) of the production windowed
    aggregate: DataSketches HLL at the default ``lgConfigK=12``."""
    return F.hll_sketch_estimate(F.hll_sketch_agg(col))


def windowed_aggregation(
    df: DataFrame,
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
    amount_col: str = "value",
    user_col: str = "user_id",
    window_duration: str = "1 minute",
    slide_duration: str | None = "30 seconds",
    exact_distinct: bool = False,
    stabilize_sums: bool = False,
) -> DataFrame:
    """Sliding (or tumbling, when ``slide_duration`` is None) event-time
    windowed aggregation. Works unchanged on batch and streaming
    DataFrames (add ``withWatermark`` upstream for streaming append
    mode).

    Output columns: window_start, window_end, *keys, order_count,
    total_revenue, avg_order_value, unique_customers, max_order_value,
    min_order_value — the reference's aggregate names
    (ecommerce_streaming.py:74-83).
    """
    window_col = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    distinct = (
        F.count_distinct(F.col(user_col))
        if exact_distinct
        else approx_distinct(F.col(user_col))
    )
    total = (
        stabilized_sum(amount_col)
        if stabilize_sums
        else F.sum(F.col(amount_col))
    )
    agg = df.groupBy(window_col.alias("window"), *[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("order_count"),
        total.alias("total_revenue"),
        distinct.alias("unique_customers"),
        F.max(F.col(amount_col)).alias("max_order_value"),
        F.min(F.col(amount_col)).alias("min_order_value"),
    )
    # avg derived from the (possibly stabilized) sum so oracle values are
    # bit-identical: identical double operands → identical quotient.
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        "order_count",
        "total_revenue",
        (F.col("total_revenue") / F.col("order_count")).alias("avg_order_value"),
        "unique_customers",
        "max_order_value",
        "min_order_value",
    )


def having(df: DataFrame, predicate: str) -> Column | DataFrame:
    """Post-aggregation filter (SQL HAVING) — reference F6
    (ecommerce_streaming.py:85: ``.filter(col('order_count') > 0)``)."""
    return df.filter(predicate)

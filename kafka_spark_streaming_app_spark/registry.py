"""Query registry: the driver-facing catalog of (Spark query, DuckDB
oracle SQL) pairs.

Every operator the engine claims (SURVEY.md §2 inventory + north-star
extensions) registers here; ``__spark_entry__.py`` re-exports it. Keys
without oracle SQL get the driver's weaker rows-only check (reserved
for genuinely non-SQL-expressible ops, e.g. streaming watermark
semantics).

Oracle-parity rules used throughout (derived in SURVEY.md §5):

- alias every computed column identically in Spark and SQL;
- double sums go through DECIMAL(25,4) on BOTH sides
  (``stabilized_sum``) so values are bit-identical regardless of
  partition/merge order;
- derived ratios are computed from the stabilized operands
  (identical doubles → identical quotient);
- no HLL estimate (``approx_count_distinct``, or the production
  operator's DataSketches ``approx_distinct``) is hashed as a value
  (cross-engine HLL sketches differ) — checked queries hash the exact
  ``count_distinct`` twin, or the exact count plus a within-tolerance
  boolean (``windowed_agg_approx``);
- no ``current_timestamp``-style nondeterminism in checked output.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-facing query, optionally with DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from . import queries as _queries  # noqa: F401

"""Alert/fraud queries (reference F2-F5 filters + E1 CASE classifier,
SURVEY.md §2.4/§2.6) mapped onto the driver's ``events`` table:

- ``total_amount``   → ``value``      (threshold 300 ≈ the >1000 rule)
- ``location``       → ``event_type`` (IN-list rule on 'error')
- ``is_fraud_simulation`` → derived ``user_id % 10 = 0`` flag
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.alerts import detect_fraud
from ..operators.windowed import approx_distinct
from ..registry import query
from ..sources.batch import load_table

_FRAUD_ORACLE = """
WITH flagged AS (
    SELECT *, (user_id % 10 = 0) AS is_fraud_simulation FROM events
)
SELECT
    event_id,
    user_id,
    value,
    event_type,
    ts,
    CASE
        WHEN value > 300 THEN 'HIGH_VALUE_ORDER'
        WHEN event_type IN ('error') THEN 'SUSPICIOUS_LOCATION'
        WHEN is_fraud_simulation THEN 'FRAUD_SIMULATION'
        ELSE 'UNKNOWN'
    END AS alert_type
FROM flagged
WHERE value > 300 OR event_type IN ('error') OR is_fraud_simulation
"""


@query("fraud_alerts", _FRAUD_ORACLE)
def fraud_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive fraud filter + first-match-wins alert classifier
    (reference ecommerce_streaming.py:87-107)."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "is_fraud_simulation", F.col("user_id") % 10 == 0
    )
    return detect_fraud(
        events,
        select_cols=["event_id", "user_id", "value", "event_type", "ts"],
        amount_col="value",
        amount_threshold=300.0,
        location_col="event_type",
        suspicious_locations=("error",),
        flag_col="is_fraud_simulation",
    )


# Sketch values are engine-specific (cross-engine HLL never matches),
# but the sketch's ERROR BOUND is checkable: the query emits the exact
# distinct count plus a boolean asserting |HLL − exact| within 4 sigma
# of a 5% rsd (20%; the sketch's own rsd is ≈1.6%) with a
# small-cardinality floor. The oracle emits the exact count and literal
# TRUE — if the sketch ever drifts outside its contract, the driver
# hash flips red.
_APPROX_TOL_ORACLE = """
WITH expanded AS (
    SELECT
        make_timestamp(((CAST(floor(epoch(ts) / 30) AS BIGINT) - s.k) * 30) * 1000000)
            AS window_start,
        e.*
    FROM events e
    CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) s
)
SELECT
    window_start,
    window_start + INTERVAL 60 SECOND AS window_end,
    event_type,
    count(DISTINCT user_id) AS unique_customers,
    true AS hll_within_tolerance
FROM expanded
GROUP BY window_start, window_end, event_type
"""


@query("windowed_agg_approx", _APPROX_TOL_ORACLE)
def windowed_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION flagship twin: the production aggregate's
    ``approx_distinct`` (DataSketches HLL) with a TOLERANCE oracle —
    the HLL value itself is engine-specific, so the query computes both
    sketch and exact distinct in one aggregation and hash-checks that
    the sketch honors its rsd error contract (SURVEY.md §2.5 A4)."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy(
        F.window(F.col("ts"), "1 minute", "30 seconds").alias("window"),
        "event_type",
    ).agg(
        approx_distinct("user_id").alias("hll_u"),
        F.count_distinct(F.col("user_id")).alias("unique_customers"),
    )
    tol = F.greatest(F.lit(4.0), F.lit(4 * 0.05) * F.col("unique_customers"))
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "unique_customers",
        (
            F.abs(F.col("hll_u") - F.col("unique_customers")) <= tol
        ).alias("hll_within_tolerance"),
    )


# --- HLL audience-overlap estimation (inclusion-exclusion) ------------------

_OVERLAP_ORACLE = """
WITH et AS (
    SELECT DISTINCT event_type FROM events
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM et a JOIN et b ON a.event_type < b.event_type
),
audiences AS (
    SELECT event_type, user_id FROM events GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST((SELECT count(*) FROM audiences x
             WHERE x.event_type = p.type_a) AS BIGINT) AS exact_a,
       CAST((SELECT count(*) FROM audiences x
             WHERE x.event_type = p.type_b) AS BIGINT) AS exact_b,
       CAST((SELECT count(*) FROM audiences x JOIN audiences y
             ON x.user_id = y.user_id
             WHERE x.event_type = p.type_a
               AND y.event_type = p.type_b) AS BIGINT) AS exact_overlap,
       true AS sketch_within_tolerance
FROM pairs p
ORDER BY p.type_a, p.type_b
"""


@query("hll_audience_overlap", _OVERLAP_ORACLE)
def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from MERGEABLE sketches — the
    ad-tech/analytics primitive 'how many users did both X and Y'
    computed WITHOUT a join at sketch cost: per event type one
    DataSketches HLL of its user set, and for every type pair the
    inclusion-exclusion estimate |A∩B| ≈ est(A) + est(B) − est(A∪B)
    where the union sketch is hll_union(sketch_a, sketch_b) — the
    reason HLL (not just a distinct count) is stored: sketches union
    losslessly, counts don't. Sketch values are engine-specific, so
    this is a TOLERANCE-oracle query (the windowed_agg_approx / HLL
    rollup contract): exact audiences and the exact overlap (one
    distinct-pair self-join, the ground truth the sketch path avoids
    at scale) are computed alongside, and the hash covers the boolean
    asserting the estimate sits within the compounded error budget —
    inclusion-exclusion SUBTRACTS three ±rsd estimates, so the bound
    is 4·rsd·(|A|+|B|+|A∪B|) plus a small-count floor, against
    lgConfigK=12 (rsd ≈ 1.04/√4096 ≈ 1.6%). Sketch drift out of
    contract flips the driver hash."""
    events = load_table(spark, sf_dir, "events")
    aud = events.groupBy("event_type", "user_id").agg(F.lit(1).alias("_"))
    sk = aud.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch"),
        F.count(F.lit(1)).cast("bigint").alias("exact_n"),
    ).localCheckpoint(eager=False)
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sketch").alias("sk_a"),
        F.col("exact_n").alias("exact_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sketch").alias("sk_b"),
        F.col("exact_n").alias("exact_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est = pairs.select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        ).alias("est_union"),
    )
    x = aud.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("ua")
    )
    y = aud.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("ub")
    )
    exact_overlap = (
        x.join(y, (F.col("ua") == F.col("ub"))
               & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    rsd = 1.04 / (4096 ** 0.5)
    joined = est.join(exact_overlap, ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        F.coalesce("exact_overlap", F.lit(0)).alias("exact_overlap"),
        (
            F.abs(
                (F.col("est_a") + F.col("est_b") - F.col("est_union"))
                - F.coalesce("exact_overlap", F.lit(0))
            )
            <= F.greatest(
                F.lit(8.0),
                F.lit(4 * rsd)
                * (F.col("est_a") + F.col("est_b") + F.col("est_union")),
            )
        ).alias("sketch_within_tolerance"),
    )
    return joined.orderBy("type_a", "type_b")

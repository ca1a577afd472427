"""Sessionization query: Spark ``session_window`` vs the classic
lag-gap-cumsum SQL construction in DuckDB — two entirely different
algorithms that must agree exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sessions import sessionize
from ..registry import query
from ..sources.batch import load_table
from .streaming import _SESSION_ORACLE  # shared with streaming_sessionize


@query("sessionize_users", _SESSION_ORACLE)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) user sessions over the events stream table."""
    events = load_table(spark, sf_dir, "events")
    return sessionize(
        events, ts_col="ts", keys=("user_id",), gap="30 minutes"
    )


# --- event transition matrix (first-order Markov) ---------------------------

_TRANSITION_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type AS cur_type, next_type, count(*) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
tot AS (
    SELECT cur_type, sum(n) AS row_total FROM pairs GROUP BY cur_type
)
SELECT p.cur_type, p.next_type, p.n,
       round(CAST(p.n AS DOUBLE) / t.row_total, 6) AS p_next
FROM pairs p JOIN tot t ON t.cur_type = p.cur_type
ORDER BY p.cur_type, p.next_type
"""


@query("event_transition_matrix", _TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next event type | current), the sequence-mining
    summary behind next-action prediction and funnel design. One
    user-keyed window (ties broken on event_id for determinism)
    produces successor pairs; the row-normalizing totals fold from
    the pair counts themselves — no second scan. All probabilities
    are exact-integer ratios rounded to 6."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    pairs = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("cur_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # feeds totals AND the final join
    )
    tot = pairs.groupBy("cur_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(tot), "cur_type")
        .select(
            "cur_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias(
                "p_next"
            ),
        )
        .orderBy("cur_type", "next_type")
    )


# --- RFM customer segmentation ----------------------------------------------

_RFM_METRICS = """
    SELECT
        o_custkey AS c_custkey,
        date_diff('day', CAST(max(o_orderdate) AS DATE),
                  (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
            AS recency_days,
        count(*) AS frequency,
        CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
            AS monetary_cents
    FROM orders GROUP BY o_custkey
"""

_RFM_ORACLE = f"""
WITH m AS ({_RFM_METRICS}),
q AS (
    SELECT
        quantile_cont(CAST(recency_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS qr,
        quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS qf,
        quantile_cont(CAST(monetary_cents AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS qm
    FROM m
)
SELECT
    m.c_custkey, m.recency_days, m.frequency, m.monetary_cents,
    5 - ((m.recency_days > qr[1])::INT + (m.recency_days > qr[2])::INT
         + (m.recency_days > qr[3])::INT + (m.recency_days > qr[4])::INT)
        AS r_score,
    1 + (m.frequency > qf[1])::INT + (m.frequency > qf[2])::INT
      + (m.frequency > qf[3])::INT + (m.frequency > qf[4])::INT AS f_score,
    1 + (m.monetary_cents > qm[1])::INT + (m.monetary_cents > qm[2])::INT
      + (m.monetary_cents > qm[3])::INT + (m.monetary_cents > qm[4])::INT
        AS m_score
FROM m, q
ORDER BY m.c_custkey
"""


@query("rfm_segmentation", _RFM_ORACLE)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintile scores, recency inverted so recent = 5). Deliberately NOT
    a global ntile() window — quintile thresholds come from one exact
    percentile aggregation (integer inputs → 0.25-grid doubles,
    cross-engine exact) broadcast back onto the per-customer metrics,
    so scoring is row-local comparisons and the only shuffle is the
    per-customer aggregate. At 100 TB swap the threshold pass to
    percentile_approx; the dataflow is unchanged — the scd2/ntile
    single-task-global-window trap never appears."""
    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .localCheckpoint(eager=False)  # feeds thresholds AND scoring
    )
    anchor = m.agg(F.max("last_day").alias("anchor"))
    m2 = m.crossJoin(F.broadcast(anchor)).select(
        "c_custkey",
        F.datediff("anchor", "last_day").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary_cents",
    ).localCheckpoint(eager=False)
    qs = [0.2, 0.4, 0.6, 0.8]
    th = m2.agg(
        F.percentile(F.col("recency_days").cast("double"), F.array(*[F.lit(q) for q in qs])).alias("qr"),
        F.percentile(F.col("frequency").cast("double"), F.array(*[F.lit(q) for q in qs])).alias("qf"),
        F.percentile(F.col("monetary_cents").cast("double"), F.array(*[F.lit(q) for q in qs])).alias("qm"),
    )

    def _score(col: str, th_col: str) -> F.Column:
        s = F.lit(0)
        for i in range(4):
            s = s + (F.col(col) > F.element_at(F.col(th_col), i + 1)).cast("int")
        return s

    return (
        m2.crossJoin(F.broadcast(th))
        .select(
            "c_custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            (F.lit(5) - _score("recency_days", "qr")).alias("r_score"),
            (F.lit(1) + _score("frequency", "qf")).alias("f_score"),
            (F.lit(1) + _score("monetary_cents", "qm")).alias("m_score"),
        )
        .orderBy("c_custkey")
    )


# --- dynamic-gap session windows --------------------------------------------

_DYN_SESSION_ORACLE = """
WITH e AS (
    SELECT user_id, ts, value,
           CASE WHEN event_type = 'purchase'
                THEN INTERVAL 60 MINUTE ELSE INTERVAL 30 MINUTE END AS gap
    FROM events
),
ordered AS (
    SELECT *,
           ts + gap AS endt,
           max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_end
    FROM e
),
flagged AS (
    SELECT *,
           CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END
               AS new_session
    FROM ordered
),
sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(endt) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@query("dynamic_gap_sessions", _DYN_SESSION_ORACLE)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT gap (Spark's dynamic-gap
    ``session_window``): purchases hold the session open for an hour,
    everything else for 30 minutes — the engagement-weighted
    sessionization a commerce funnel wants. The oracle reconstructs
    the merge as interval union: a session breaks where the event's
    time reaches the running max of all previous events' (ts + gap)
    ends — which is exactly what the engine's session merging must
    converge to. Same single keyed aggregation as fixed-gap
    sessionize; the gap expression is row-local."""
    events = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        events.groupBy(
            "user_id", F.session_window(F.col("ts"), gap).alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# --- Markov stationary distribution (power iteration) -----------------------

# π ← πP unrolled 3 steps from uniform, every iterate floor-quantized
# to a 1e9 integer grid (probabilities in ppb) PER TERM before the
# sum — the sum itself is then exact integer arithmetic, so no
# aggregation order can drift it (a floor AROUND the sum would sum
# doubles in engine order first — the exact trap this repo avoids). Exact EMPIRICAL state frequencies ride along —
# at stationarity the two columns converge, visible in the output.
_STATIONARY_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type AS cur, next_type AS nxt,
           CAST(count(*) AS BIGINT) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
),
tot AS (
    SELECT cur, CAST(sum(n) AS BIGINT) AS rt FROM pairs GROUP BY cur
),
p0 AS (
    SELECT cur AS state, CAST(200000000 AS BIGINT) AS pi FROM tot
),
p1 AS (
    SELECT pr.nxt AS state,
           CAST(sum(CAST(floor(CAST(p0.pi AS DOUBLE) * pr.n / t.rt)
                         AS BIGINT)) AS BIGINT) AS pi
    FROM p0 JOIN pairs pr ON pr.cur = p0.state
    JOIN tot t ON t.cur = pr.cur
    GROUP BY pr.nxt
),
p2 AS (
    SELECT pr.nxt AS state,
           CAST(sum(CAST(floor(CAST(p1.pi AS DOUBLE) * pr.n / t.rt)
                         AS BIGINT)) AS BIGINT) AS pi
    FROM p1 JOIN pairs pr ON pr.cur = p1.state
    JOIN tot t ON t.cur = pr.cur
    GROUP BY pr.nxt
),
p3 AS (
    SELECT pr.nxt AS state,
           CAST(sum(CAST(floor(CAST(p2.pi AS DOUBLE) * pr.n / t.rt)
                         AS BIGINT)) AS BIGINT) AS pi
    FROM p2 JOIN pairs pr ON pr.cur = p2.state
    JOIN tot t ON t.cur = pr.cur
    GROUP BY pr.nxt
),
emp AS (
    SELECT event_type AS state, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(count(*)) OVER () AS BIGINT) AS total
    FROM events GROUP BY event_type
)
SELECT e.state,
       round(CAST(p3.pi AS DOUBLE) / 1e9, 6) AS pi_stationary_3step,
       round(CAST(e.cnt AS DOUBLE) / e.total, 6) AS empirical_freq,
       e.cnt AS n_events
FROM p3 JOIN emp e ON e.state = p3.state
ORDER BY e.state
"""


@query("markov_stationary_distribution", _STATIONARY_ORACLE)
def markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain —
    the long-run fraction of time the event stream spends in each
    state, read off three unrolled π ← πP power-iteration steps from
    uniform (the pagerank/HITS/LSA dataflow on the 5-state behavior
    chain: each step is one join of the iterate with the
    transition-pair relation plus one aggregation; the iterate is
    floor-quantized to exact ppb integers between steps so both
    engines walk the identical sequence). The exact empirical state
    frequencies ride alongside — for an ergodic chain the two columns
    agree closely, which the output makes visible and the pin
    asserts. The corpus-sized work is the lead() window building
    transitions; everything after runs on the 25-entry pair table.
    Identical SQL text on both engines; numpy matrix-power pin in
    tests/test_properties.py."""
    from ..sources.batch import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_STATIONARY_ORACLE)

"""Streaming end-to-end queries for the driver harness.

Each query materializes the ``events`` table as a JSON-lines text
stream (one JSON object per line — exactly the Kafka wire shape minus
the binary cast), runs the REAL ingestion path
(``parse_and_clean``: from_json → flatten → try_to_timestamp → filter
→ watermark) and a downstream operator as a Structured Streaming job,
and returns the result as a batch DataFrame. Two drivers run every
finite replay here and in the other query families:

- ``_run_to_table``: memory sink, drained with
  ``processAllAvailable``, with optional driver-side steps (a new
  wave of input) between drains;
- ``_run_available_now``: foreachBatch under
  ``trigger(availableNow=True)`` for queries that fold each
  micro-batch into persistent state. foreachBatch is at-least-once
  and only a completed run's state is safe to read, so a run that has
  not finished within 300 s raises instead of returning.

Because the input is finite and deterministic, the streaming result
must equal the batch oracle — so the driver's hash check covers the
streaming engine itself. (Watermark LATE-DROP semantics can't be
SQL-mirrored and are covered by tests/test_streaming.py instead.)
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session
from ..operators.alerts import detect_fraud
from ..operators.windowed import windowed_aggregation
from ..registry import query
from ..sources.batch import load_table
from ..streaming.pipeline import parse_and_clean, write_memory_stream
from .feeds import materialize_feed, scratch_dir

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)


def _events_wire_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value").alias("amount"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "timestamp"
                ),
            )
        ).alias("value")
    )


def _events_wire_dir(spark: SparkSession, sf_dir: str) -> str:
    """The shared events wire materialization (one file per core: the
    file-stream source assigns one task per file, so a 2-file wire
    dir would cap micro-batch parallelism at 2 regardless of cluster
    size) — all streaming queries replay the same files."""
    return materialize_feed(
        spark, sf_dir, "wire", _events_wire_build, files=None, fmt="text"
    )


def _events_as_wire_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """events → JSON-lines files → text stream → parsed/cleaned stream.

    ``max_files_per_trigger`` splits the replay into several
    micro-batches (the wire dir holds one file per core) — needed by
    queries that prove batch-boundary independence of a merge."""
    src_dir = _events_wire_dir(spark, sf_dir)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.text(src_dir)
    return parse_and_clean(raw, WIRE_SCHEMA, ts_field="timestamp")


def _run_to_table(
    spark: SparkSession,
    df: DataFrame,
    output_mode: str,
    shuffle_partitions: int | None = None,
    steps: Sequence[Callable[[], None]] = (),
) -> DataFrame:
    """Drive a finite stream to completion into a memory sink.

    The sink is drained once, then each of ``steps`` runs on the
    driver (a new wave of input) and is drained in turn, so each
    step's input lands in its own micro-batches.

    ``shuffle_partitions`` overrides the state-partition count for THIS
    query only (it is fixed at stream start from the session conf and
    pinned in the checkpoint thereafter). Stateful operators pay
    per-partition-per-batch state-store overhead — a stream-stream join
    keeps 4 stores per partition — so a bounded replay harness wants
    far fewer than a production cluster's shuffle width; results are
    partitioning-independent either way."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    with session.shuffle_partitions(spark, shuffle_partitions):
        q = write_memory_stream(df, name, output_mode=output_mode)
    try:
        q.processAllAvailable()
        for step in steps:
            step()
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# Seconds an availableNow run may take before its state is refused.
_AVAILABLE_NOW_TIMEOUT_S = 300


def _run_available_now(
    df: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    what: str,
) -> None:
    """Run ``on_batch(batch_df, batch_id)`` over every micro-batch of
    the finite stream ``df`` (foreachBatch, availableNow trigger,
    scratch checkpoint) and return when the run has finished.

    Only a finished run's state is safe to read, so a run still going
    after 300 s raises RuntimeError naming ``what`` (the query). An
    error raised by ``on_batch`` propagates, and the query is stopped
    on every way out."""
    q = (
        df.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", scratch_dir("ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(_AVAILABLE_NOW_TIMEOUT_S):
            raise RuntimeError(
                f"{what}: availableNow run did not finish within "
                f"{_AVAILABLE_NOW_TIMEOUT_S}s; refusing to read partial state"
            )
    finally:
        if q.isActive:
            q.stop()


_STREAM_AGG_ORACLE = """
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
    count(*) AS order_count,
    CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_revenue,
    CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS avg_order_value,
    max(value) AS max_order_value,
    min(value) AS min_order_value
FROM expanded
GROUP BY window_start, window_end, event_type
"""


@query("streaming_windowed_agg", _STREAM_AGG_ORACLE)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship sliding-window aggregation executed BY THE STREAMING
    ENGINE (complete output mode) over the JSON wire replay of
    ``events``. Exact-distinct is not streamable, so the streaming
    variant omits unique_customers (the production twin uses a
    DataSketches HLL sketch).

    SCALE BOUNDARY — parity demonstrator only: complete mode rewrites
    the full result every trigger and holds every window ever seen in
    state, which is unbounded on a real stream. The production shape
    is `streaming_windowed_append` (watermark + append finalization,
    bounded state); this query exists to hash-check the engine's
    arithmetic against the batch oracle over ALL windows, including
    ones append mode would not have finalized yet."""
    stream = _events_as_wire_stream(spark, sf_dir)
    agg = windowed_aggregation(
        stream,
        ts_col="event_timestamp",
        keys=("event_type",),
        amount_col="amount",
        user_col="user_id",
        window_duration="1 minute",
        slide_duration="30 seconds",
        exact_distinct=False,
        stabilize_sums=True,
    ).drop("unique_customers")
    # state width sized by state volume (windows x event types), the
    # module rule — not the session/cluster shuffle width (r12)
    return _run_to_table(
        spark, agg, output_mode="complete", shuffle_partitions=8
    )


_STREAM_FRAUD_ORACLE = """
WITH flagged AS (
    SELECT *, (user_id % 10 = 0) AS is_fraud FROM events
)
SELECT
    event_id,
    user_id,
    value AS amount,
    event_type,
    ts AS event_timestamp,
    CASE
        WHEN value > 300 THEN 'HIGH_VALUE_ORDER'
        WHEN event_type IN ('error') THEN 'SUSPICIOUS_LOCATION'
        WHEN is_fraud THEN 'FRAUD_SIMULATION'
        ELSE 'UNKNOWN'
    END AS alert_type
FROM flagged
WHERE value > 300 OR event_type IN ('error') OR is_fraud
"""


@query("streaming_fraud_alerts", _STREAM_FRAUD_ORACLE)
def streaming_fraud_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fraud-alert branch executed by the streaming engine (append
    mode — stateless filter/classify emits immediately), over the same
    wire replay."""
    stream = _events_as_wire_stream(spark, sf_dir).withColumn(
        "is_fraud", F.col("user_id") % 10 == 0
    )
    alerts = detect_fraud(
        stream,
        select_cols=["event_id", "user_id", "amount", "event_type", "event_timestamp"],
        amount_col="amount",
        amount_threshold=300.0,
        location_col="event_type",
        suspicious_locations=("error",),
        flag_col="is_fraud",
    )
    return _run_to_table(spark, alerts, output_mode="append")


_STATEFUL_ORACLE = """
SELECT
    CAST(user_id AS VARCHAR) AS user_id,
    count(*) AS n_orders,
    round(CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE), 2) AS total_spend,
    max(value) AS max_order
FROM events
GROUP BY user_id
"""


@query("streaming_stateful_running_totals", _STATEFUL_ORACLE)
def streaming_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driven over the
    wire replay in ONE micro-batch: update mode emits exactly one state
    snapshot per key, which must equal the batch group-by. Python-side
    float accumulation is rounded to cents on both sides (inputs are
    2-decimal, accumulation error ~1e-10 << 0.005, so rounding is
    exact)."""
    from ..streaming.stateful import running_totals

    stream = _events_as_wire_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("amount").alias("total_amount"),
    )
    totals = running_totals(stream)
    snapshot = _run_to_table(
        spark, totals, output_mode="update", shuffle_partitions=8
    )
    return snapshot.select(
        "user_id",
        "n_orders",
        F.round("total_spend", 2).alias("total_spend"),
        F.col("max_order"),
    )


_ENRICHED_ORACLE = """
WITH user_stats AS (
    SELECT
        o_custkey AS user_id,
        count(*) AS lifetime_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS lifetime_spend
    FROM orders
    GROUP BY o_custkey
),
flagged AS (SELECT *, (user_id % 10 = 0) AS is_fraud FROM events)
SELECT
    f.event_id,
    f.user_id,
    f.value AS amount,
    u.lifetime_orders,
    u.lifetime_spend
FROM flagged f
LEFT JOIN user_stats u ON f.user_id = u.user_id
WHERE f.value > 300 OR f.event_type IN ('error') OR f.is_fraud
"""


@query("streaming_enriched_alerts", _ENRICHED_ORACLE)
def streaming_enriched_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the alert stream enriched with per-user
    lifetime stats from the static orders table — the canonical
    dimension-enrichment pattern (static side is batch-planned per
    micro-batch; no streaming state)."""
    from ..operators.alerts import fraud_predicate
    from ..operators.windowed import stabilized_sum

    stream = _events_as_wire_stream(spark, sf_dir).withColumn(
        "is_fraud", F.col("user_id") % 10 == 0
    )
    alerts = stream.filter(
        fraud_predicate(
            amount_col="amount",
            amount_threshold=300.0,
            location_col="event_type",
            suspicious_locations=("error",),
            flag_col="is_fraud",
        )
    )
    user_stats = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("lifetime_orders"),
            stabilized_sum("o_totalprice").alias("lifetime_spend"),
        )
    )
    # user_stats cardinality is the user count — unbounded at scale, so
    # no broadcast hint; Spark plans the stream-static join per
    # micro-batch and broadcasts only if the static side is small
    enriched = alerts.join(user_stats, "user_id", "left").select(
        "event_id",
        "user_id",
        F.col("amount"),
        "lifetime_orders",
        "lifetime_spend",
    )
    return _run_to_table(spark, enriched, output_mode="append")


# Also the oracle of the batch twin `sessionize_users`: queries/sessions.py
# imports it from here because this module registers its queries first.
# Session semantics: a gap >= the duration starts a new session; the
# session end is last_event + gap (Spark's session_window contract).
_SESSION_ORACLE = """
WITH ordered AS (
    SELECT
        user_id,
        ts,
        value,
        CASE
            WHEN lag(ts) OVER w IS NULL THEN 1
            WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
            ELSE 0
        END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
)
SELECT
    user_id,
    min(ts) AS session_start,
    max(ts) + INTERVAL 30 MINUTE AS session_end,
    count(*) AS n_events,
    CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM sess
GROUP BY user_id, session_id
"""


@query("streaming_sessionize", _SESSION_ORACLE)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessionization executed BY THE STREAMING ENGINE
    (complete mode) over the JSON wire replay — the streaming twin of
    `sessionize_users`, checked against the same lag-gap-cumsum oracle:
    the engine's incremental session MERGING (sessions extend and fuse
    across micro-batches) must converge to the batch fixpoint.

    SCALE BOUNDARY — parity demonstrator only: complete mode holds
    every session ever closed in state. The production shape is
    `streaming_sessionize_append` (watermarked append with session
    eviction, bounded by OPEN sessions only); this query exists to
    check the merge fixpoint over the full session set."""
    from ..operators.sessions import sessionize

    stream = _events_as_wire_stream(spark, sf_dir)
    sessions = sessionize(
        stream,
        ts_col="event_timestamp",
        keys=("user_id",),
        gap="30 minutes",
        amount_col="amount",
    )
    return _run_to_table(
        spark, sessions, output_mode="complete", shuffle_partitions=8
    )


_STREAM_APPEND_ORACLE = """
WITH wm AS (
    SELECT max(ts) - INTERVAL 30 SECOND AS w FROM events
),
expanded AS (
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
    count(*) AS order_count,
    CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_revenue
FROM expanded
GROUP BY window_start, window_end, event_type
HAVING window_start + INTERVAL 60 SECOND <= (SELECT w FROM wm)
"""


# Chained stateful operators: 1-minute windows re-aggregated into
# 5-minute windows INSIDE one streaming query. Emitted 5-minute windows
# have window_end ≤ final watermark; every 1-minute window they contain
# ends no later, so the batch twin needs only the outer HAVING bound.
_CHAINED_ORACLE = """
WITH wm AS (
    SELECT max(ts) - INTERVAL 30 SECOND AS w FROM events
),
m1 AS (
    SELECT
        make_timestamp((CAST(floor(epoch(ts) / 60) AS BIGINT) * 60) * 1000000)
            AS w1_start,
        event_type,
        count(*) AS order_count,
        CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM events
    GROUP BY w1_start, event_type
),
m5 AS (
    SELECT
        make_timestamp((CAST(floor(epoch(w1_start) / 300) AS BIGINT) * 300) * 1000000)
            AS window_start,
        event_type,
        CAST(sum(order_count) AS BIGINT) AS order_count,
        CAST(sum(CAST(revenue AS DECIMAL(25,4))) AS DOUBLE) AS total_revenue,
        max(revenue) AS max_minute_revenue,
        count(*) AS n_minutes
    FROM m1
    GROUP BY window_start, event_type
)
SELECT
    window_start,
    window_start + INTERVAL 300 SECOND AS window_end,
    event_type,
    order_count,
    total_revenue,
    max_minute_revenue,
    n_minutes
FROM m5
WHERE window_start + INTERVAL 300 SECOND <= (SELECT w FROM wm)
"""


@query("streaming_chained_windows", _CHAINED_ORACLE)
def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators (Spark 4 multiple-stateful-operator
    support): a 1-minute tumbling aggregation feeds a 5-minute rollup
    via ``window(window_time(window), ...)`` in the SAME streaming
    query, append mode — the streaming form of a hierarchical rollup
    (minute → 5-minute continuous aggregate). Both stages shuffle on
    the same keys; the inner window finalizes under the watermark and
    flows straight into the outer window's state. Sums re-stabilize
    through DECIMAL at the second stage so the rollup is bit-exact."""
    stream = _events_as_wire_stream(spark, sf_dir)
    m1 = stream.groupBy(
        F.window("event_timestamp", "1 minute"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("order_count"),
        F.sum(F.col("amount").cast("decimal(25,4)"))
        .cast("double")
        .alias("revenue"),
    )
    m5 = m1.groupBy(
        F.window(F.window_time("window"), "5 minutes"), "event_type"
    ).agg(
        F.sum("order_count").alias("order_count"),
        F.sum(F.col("revenue").cast("decimal(25,4)"))
        .cast("double")
        .alias("total_revenue"),
        F.max("revenue").alias("max_minute_revenue"),
        F.count(F.lit(1)).alias("n_minutes"),
    )
    out = m5.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "order_count",
        "total_revenue",
        "max_minute_revenue",
        "n_minutes",
    )
    return _run_to_table(spark, out, output_mode="append", shuffle_partitions=8)


@query("streaming_windowed_append", _STREAM_APPEND_ORACLE)
def streaming_windowed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked windowed aggregation through the real
    streaming engine: only FINALIZED windows are emitted — exactly
    those whose end ≤ the final watermark (max event time − 30 s, the
    ingestion path's watermark; boundary inclusion verified
    empirically: a window ending exactly at the watermark IS emitted).
    The oracle is the batch windowed aggregate with that same HAVING
    bound, so the driver hash check covers the engine's append
    finalization semantics, not just its arithmetic — the piece of W1
    that was previously pytest-only."""
    stream = _events_as_wire_stream(spark, sf_dir)
    agg = windowed_aggregation(
        stream,
        ts_col="event_timestamp",
        keys=("event_type",),
        amount_col="amount",
        user_col="user_id",
        window_duration="1 minute",
        slide_duration="30 seconds",
        exact_distinct=False,
        stabilize_sums=True,
    ).drop("unique_customers", "avg_order_value", "max_order_value", "min_order_value")
    return _run_to_table(
        spark, agg, output_mode="append", shuffle_partitions=8
    )


# Custom stateful sessionization with EVENT-TIME TIMEOUT: a session
# emits once — when a successor event closes it (gap exceeded) or when
# the watermark passes last_event + gap (state timeout). Open trailing
# sessions are never emitted. The oracle enumerates exactly that set:
# every non-final session per user (successor-closed) plus final
# sessions whose gap window closed before the final watermark.
_TIMEOUT_SESSIONS_ORACLE = """
WITH wm AS (
    -- the engine's event-time watermark is MILLISECOND-granular:
    -- floor(max_event_us / 1000) - delay_ms; timeouts fire when the
    -- state's ms timeout value is strictly below it
    SELECT epoch_us(max(ts)) // 1000 - 30000 AS w_ms FROM events
),
ordered AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
    FROM ordered
),
agg AS (
    SELECT user_id, sid,
           min(ts) AS start_ts,
           max(ts) AS last_ts,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM sess
    GROUP BY user_id, sid
),
flagged AS (
    SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM agg
)
SELECT user_id,
       epoch_us(start_ts) AS session_start_us,
       epoch_us(last_ts) AS session_last_us,
       n_events,
       total_cents,
       CASE WHEN sid < max_sid THEN 'successor' ELSE 'timeout' END
           AS closed_by
FROM flagged
WHERE sid < max_sid
   OR (epoch_us(last_ts) + 1800000000) // 1000 < (SELECT w_ms FROM wm)
"""


@query("streaming_timeout_sessions", _TIMEOUT_SESSIONS_ORACLE)
def streaming_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization rebuilt on raw ``applyInPandasWithState`` with
    EventTimeTimeout — the custom-stateful-operator semantic the
    built-in ``session_window`` hides: gap-exceeded successors close
    sessions inside the batch; the WATERMARK closes trailing sessions
    via ``state.hasTimedOut``; still-open sessions never emit. The
    oracle enumerates both closed populations, so the driver hash
    checks the timeout machinery itself."""
    from ..streaming.stateful import timeout_sessions

    stream = _events_as_wire_stream(spark, sf_dir)
    sessions = timeout_sessions(stream, gap_minutes=30)
    return _run_to_table(
        spark, sessions, output_mode="append", shuffle_partitions=8
    )


from .sessions import _DYN_SESSION_ORACLE as _DYN_GAP_ORACLE

@query("streaming_dynamic_gap_sessions", _DYN_GAP_ORACLE)
def streaming_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session_window run BY THE STREAMING ENGINE
    (complete mode) over the wire replay: per-event gaps (purchases
    60 min, others 30) make session MERGING data-dependent — an
    incremental merge across micro-batches must still converge to the
    batch interval-union fixpoint, which is exactly what the shared
    oracle states.

    SCALE BOUNDARY — parity demonstrator only: complete mode holds
    unbounded state. The production shape is
    `streaming_dynamic_gap_append` (watermarked append, state bounded
    by open sessions); this query checks the fixpoint over ALL
    sessions including not-yet-finalized ones."""
    from pyspark.sql import functions as F

    stream = _events_as_wire_stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    sessions = (
        stream.groupBy(
            "user_id",
            F.session_window(F.col("event_timestamp"), gap).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("amount").cast("decimal(25,4)"))
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
    )
    return _run_to_table(
        spark, sessions, output_mode="complete", shuffle_partitions=8
    )


# --- bounded-state APPEND twins of the complete-mode session queries --------
# The complete-mode queries above prove batch/stream duality but hold
# unbounded state (complete mode rewrites the full result every
# trigger). These twins are the PRODUCTION shapes: watermarked
# session_window in append mode — state is evicted as the watermark
# passes each session's end, so state size is bounded by the number of
# OPEN sessions. The oracle appends the finalization predicate to the
# batch session oracle: a session is emitted iff its end (last event +
# gap) is at or before the final watermark (ms-granular: the engine
# floors event-time watermarks to milliseconds; max event time − 30 s
# from the ingestion watermark). µs-grain test data never lands a
# session end exactly on the ms boundary, so <= vs < is empirically
# indistinguishable here — <= matches the verified windowed-append
# boundary (a window ending exactly at the watermark IS emitted).

_SESSION_APPEND_ORACLE = """
WITH wm AS (
    SELECT epoch_us(max(ts)) // 1000 - 30000 AS w_ms FROM events
),
ordered AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
),
agg AS (
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM agg
WHERE epoch_us(session_end) // 1000 <= (SELECT w_ms FROM wm)
"""


@query("streaming_sessionize_append", _SESSION_APPEND_ORACLE)
def streaming_sessionize_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked sessionization through the real
    streaming engine — the bounded-state production twin of
    `streaming_sessionize`: only sessions FINALIZED under the final
    watermark are emitted and their state is evicted, so state holds
    open sessions only. The oracle is the batch lag-gap-cumsum
    session build restricted to sessions whose end ≤ the final
    ms-granular watermark — the driver hash check covers the engine's
    session finalization/eviction semantics."""
    from ..operators.sessions import sessionize

    stream = _events_as_wire_stream(spark, sf_dir)
    sessions = sessionize(
        stream,
        ts_col="event_timestamp",
        keys=("user_id",),
        gap="30 minutes",
        amount_col="amount",
    )
    return _run_to_table(
        spark, sessions, output_mode="append", shuffle_partitions=8
    )


_DYN_GAP_APPEND_ORACLE = """
WITH wm AS (
    SELECT epoch_us(max(ts)) // 1000 - 30000 AS w_ms FROM events
),
e AS (
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
),
agg AS (
    SELECT user_id,
           min(ts) AS session_start,
           max(endt) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM agg
WHERE epoch_us(session_end) // 1000 <= (SELECT w_ms FROM wm)
"""


@query("streaming_dynamic_gap_append", _DYN_GAP_APPEND_ORACLE)
def streaming_dynamic_gap_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode dynamic-gap session_window through the real
    streaming engine — the bounded-state production twin of
    `streaming_dynamic_gap_sessions`: per-event gaps (purchases 60
    min, others 30) with watermark finalization, so the engine's
    data-dependent incremental session merge AND its eviction rule
    must both converge to the batch interval-union fixpoint
    restricted to sessions ending at or before the final watermark."""
    stream = _events_as_wire_stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    sessions = (
        stream.groupBy(
            "user_id",
            F.session_window(F.col("event_timestamp"), gap).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("amount").cast("decimal(25,4)"))
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
    )
    return _run_to_table(
        spark, sessions, output_mode="append", shuffle_partitions=8
    )


# --- streaming mergeable-sketch rollup --------------------------------------

# The streaming face of `quantile_mergeable_rollup`: the (day, bin)
# count table is the SKETCH STATE, maintained incrementally by
# foreachBatch over a multi-micro-batch replay. Because bin-count
# merge is plain addition (associative + commutative), the final state
# is independent of batch boundaries and the day-level quantiles read
# from it must hash-match the from-scratch batch oracle — the
# continuous-aggregate maintenance pattern a 100 TB percentile
# dashboard runs: each trigger touches only new rows plus a
# sketch-sized state table.
_STREAM_QROLL_ORACLE = """
WITH b AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(floor(value / 50) AS BIGINT) AS bin,
           count(*) AS c
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
),
cum AS (
    SELECT day, bin,
           sum(c) OVER (PARTITION BY day ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY day) AS n
    FROM b
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p50_bin,
       CAST(min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT)
                     THEN bin END) AS BIGINT) AS p90_bin
FROM cum
GROUP BY day
ORDER BY day
"""


@query("streaming_quantile_rollup", _STREAM_QROLL_ORACLE)
def streaming_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch maintained THROUGH the streaming
    engine: the events wire replay runs in multiple micro-batches
    (maxFilesPerTrigger=8), each foreachBatch folds the batch's
    (day, $50-bin) counts into a persistent state table by addition,
    and day-level p50/p90 are read from the final state. Merge
    associativity makes the result batch-boundary independent, so the
    driver's hash gate proves streaming maintenance == from-scratch
    batch recompute — the sketch-as-state production shape (compare
    `streaming_cdc_upsert`, whose state is argmax rather than sum).

    The sketch state is maintained through
    ``merge_into_compact_state``: the (day, bin) count table is
    sketch-sized — bounded by days × 20 bins regardless of stream
    volume — so each micro-batch folds into it with ONE Spark job and
    an atomic whole-state swap (per-bucket partition pruning would
    optimize nothing here while paying a parquet writer per day per
    trigger; contrast ``streaming_cdc_upsert``, whose per-key state
    IS bucket-partitioned). Replayed batch ids skip via the
    applied-batch marker, so at-least-once foreachBatch retries
    cannot double-add counts (additive merge is NOT idempotent — the
    guard is what makes it safe)."""
    from pyspark.sql import Window

    from ..streaming.state import (
        merge_into_compact_state,
        read_state,
    )

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    binned = stream.filter(F.col("amount").isNotNull()).select(
        F.to_date("event_timestamp").alias("day"),
        F.floor(F.col("amount") / 50).cast("bigint").alias("bin"),
    )
    state_dir = os.path.join(scratch_dir("qroll_state_"), "sketch")

    def _merge_sketch(
        existing: DataFrame | None, part: DataFrame
    ) -> DataFrame:
        if existing is None:
            return part
        return (
            existing.withColumn("day", F.col("day").cast("date"))
            .unionByName(part)
            .groupBy("day", "bin")
            .agg(F.sum("c").alias("c"))
        )

    def merge_state(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy("day", "bin").agg(
            F.count(F.lit(1)).alias("c")
        )
        merge_into_compact_state(
            state_dir, batch_id, part, _merge_sketch,
            # local replay sizing; production sizes by state volume
            shuffle_partitions=4,
        )

    _run_available_now(binned, merge_state, "streaming_quantile_rollup")

    sketch = read_state(spark, state_dir)
    w_cum = (
        Window.partitionBy("day")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("day")
    cum = sketch.select(
        "day",
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )

    def pick(q_: float):
        target = F.ceil(F.lit(q_) * F.col("n")).cast("bigint")
        return F.min(F.when(F.col("cum") >= target, F.col("bin"))).cast(
            "bigint"
        )

    return (
        cum.groupBy("day")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            pick(0.5).alias("p50_bin"),
            pick(0.9).alias("p90_bin"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "n_events",
            "p50_bin",
            "p90_bin",
        )
        .orderBy("day")
    )


# --- streaming count-min sketch (heavy-hitter users) ------------------------

_SCMS_W = 1024
_SCMS_D = 4


def _scms_bucket_sql(r: int) -> str:
    from ..functions.hashing import h60_sql

    return (
        h60_sql(f"concat('scms{r}|', CAST(user_id AS VARCHAR))")
        + f" % {_SCMS_W}"
    )


_SCMS_SKETCH = " UNION ALL ".join(
    f"SELECT {r} AS row_id, {_scms_bucket_sql(r)} AS bucket, count(*) AS cnt"
    f" FROM ev GROUP BY bucket"
    for r in range(_SCMS_D)
)
_SCMS_PROBES = ", ".join(
    f"(SELECT cnt FROM sk WHERE row_id = {r}"
    f" AND bucket = {_scms_bucket_sql(r)})"
    for r in range(_SCMS_D)
)

_SCMS_ORACLE = f"""
WITH ev AS (SELECT user_id FROM events),
sk AS ({_SCMS_SKETCH}),
counts AS (SELECT user_id, count(*) AS true_n FROM ev GROUP BY user_id),
mx AS (SELECT max(true_n) AS m FROM counts),
heavy AS (
    SELECT user_id, true_n FROM counts, mx WHERE 2 * true_n > m
)
SELECT user_id, CAST(true_n AS BIGINT) AS true_n,
       CAST(least({_SCMS_PROBES}) AS BIGINT) AS cms_estimate
FROM heavy
ORDER BY user_id
"""


@query("streaming_cms_heavy_hitters", _SCMS_ORACLE)
def streaming_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min sketch maintained THROUGH the streaming engine — a
    fixed-size probabilistic sketch alongside the argmax CDC, additive
    bins, and join-view state shapes: each micro-batch folds its
    (row, bucket) counts into the persistent d=4 x w=1024 sketch by
    addition via ``merge_into_compact_state`` (4096 counters is the
    textbook sketch-sized state — whole-state swap in one Spark job
    beats per-row-partition writers every trigger). The batch's d
    row-counts come from ONE scan: the d hash functions explode
    per-event rather than re-aggregating the batch d times.
    Because CMS merge is plain addition, the streamed
    sketch is batch-boundary independent and must EQUAL the
    from-scratch batch sketch — so the heavy-hitter estimates read
    from it hash-match the batch oracle exactly (the
    `cms_heavy_hitters` guarantee, now proven for the continuously
    maintained sketch). Heavy set = users with 2*count > max count
    (scale-free, exact); the sketch stays 4096 counters at any
    volume — the bounded-memory answer to streaming top-k."""
    from ..functions.hashing import h60
    from ..streaming.state import (
        merge_into_compact_state,
        read_state,
    )

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    users = stream.select(F.col("user_id"))
    state_dir = os.path.join(scratch_dir("scms_state_"), "sketch")

    def bucket_col(r: int):
        return (
            h60(
                F.concat(
                    F.lit(f"scms{r}|"), F.col("user_id").cast("string")
                )
            )
            % _SCMS_W
        )

    def _merge(existing: DataFrame | None, part: DataFrame) -> DataFrame:
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("row_id", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def merge_state(batch_df: DataFrame, batch_id: int) -> None:
        # one scan: explode the d (row, bucket) hashes per event, then
        # a single groupBy — not d separate aggregations of the batch
        part = (
            batch_df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("row_id"),
                                bucket_col(r).alias("bucket"),
                            )
                            for r in range(_SCMS_D)
                        ]
                    )
                ).alias("rb")
            )
            .groupBy(
                F.col("rb.row_id").alias("row_id"),
                F.col("rb.bucket").alias("bucket"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        merge_into_compact_state(
            state_dir, batch_id, part, _merge, shuffle_partitions=4
        )

    _run_available_now(users, merge_state, "streaming_cms_heavy_hitters")

    sketch = read_state(spark, state_dir).localCheckpoint(eager=False)
    ev = load_table(spark, sf_dir, "events").select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    mx = counts.agg(F.max("true_n").alias("m"))
    heavy = (
        counts.crossJoin(F.broadcast(mx))
        .filter(2 * F.col("true_n") > F.col("m"))
        .select("user_id", "true_n")
    )
    est = heavy
    for r in range(_SCMS_D):
        sr = sketch.filter(F.col("row_id") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        est = est.join(
            F.broadcast(sr), bucket_col(r) == F.col(f"b{r}")
        ).drop(f"b{r}")
    return est.select(
        "user_id",
        F.col("true_n").cast("bigint").alias("true_n"),
        F.least(*[F.col(f"c{r}") for r in range(_SCMS_D)])
        .cast("bigint")
        .alias("cms_estimate"),
    ).orderBy("user_id")


# --- streaming HLL distinct rollup (fifth state shape) ----------------------

# Also the oracle of the batch twin `hll_mergeable_rollup`, which
# queries/analytics.py imports from here (this module registers first).
_HLL_ROLLUP_ORACLE = """
SELECT
    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
    event_type,
    count(DISTINCT user_id) AS exact_users,
    true AS sketch_within_tolerance
FROM events
GROUP BY date_trunc('week', ts), event_type
ORDER BY week_start, event_type
"""


@query("streaming_hll_rollup", _HLL_ROLLUP_ORACLE)
def streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable DISTINCT-COUNT sketches maintained THROUGH the
    streaming engine — DataSketches HLL union alongside the argmax
    CDC, additive-bin, join-view, and count-min state shapes: each
    micro-batch builds per-(day, event_type) HLL sketches from its
    rows alone and hll_union_agg-merges them into the persistent
    sketch table via ``merge_into_compact_state`` (O(days × types)
    sketches is sketch-sized state — whole-state swap in one Spark
    job per trigger). HLL union is associative and commutative,
    so the final state is batch-boundary independent; weekly
    estimates merged FROM THE STATE are checked against the exact
    weekly distinct within 4 sigma of the sketch rsd (the
    `hll_mergeable_rollup` tolerance oracle — sketch bytes are
    engine-specific, the error contract is not). This is the
    production continuous-unique-users rollup: state is
    O(days × types) sketches, never O(users)."""
    from ..streaming.state import merge_into_compact_state, read_state

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    keyed = stream.filter(F.col("user_id").isNotNull()).select(
        F.to_date("event_timestamp").alias("day"),
        F.col("event_type"),
        F.col("user_id"),
    )
    state_dir = os.path.join(scratch_dir("hroll_state_"), "sketch")

    def _merge_hll(existing, part):
        if existing is None:
            return part
        return (
            existing.withColumn("day", F.col("day").cast("date"))
            .unionByName(part)
            .groupBy("day", "event_type")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )

    def merge_state(batch_df, batch_id: int) -> None:
        part = batch_df.groupBy("day", "event_type").agg(
            F.hll_sketch_agg("user_id").alias("sketch")
        )
        merge_into_compact_state(
            state_dir, batch_id, part, _merge_hll, shuffle_partitions=4
        )

    _run_available_now(keyed, merge_state, "streaming_hll_rollup")

    sketches = read_state(spark, state_dir)
    weekly_est = (
        sketches.groupBy(
            F.date_trunc(
                "week", F.col("day").cast("timestamp")
            ).alias("week_start"),
            "event_type",
        )
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "week_start",
            "event_type",
            F.hll_sketch_estimate("merged").alias("est_users"),
        )
    )
    events = load_table(spark, sf_dir, "events")
    weekly_exact = events.groupBy(
        F.date_trunc("week", "ts").alias("week_start"), "event_type"
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    rsd = 1.04 / (2**12) ** 0.5
    tol = F.greatest(F.lit(4.0), F.lit(4 * rsd) * F.col("exact_users"))
    return (
        weekly_exact.join(weekly_est, ["week_start", "event_type"])
        .select(
            "week_start",
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users")) <= tol
            ).alias("sketch_within_tolerance"),
        )
        .orderBy("week_start", "event_type")
    )


# --- streaming weighted reservoir (Efraimidis-Spirakis state) ---------------

# SIXTH partitioned-state shape: per-day exactly-k weighted sample.
# The ES key u^(1/w) (ranked by the monotone ln(u)/w, floor-quantized
# to exact int64 — the weighted_sample_es discipline, distinct CW
# multiplier) is computed PER EVENT from a deterministic counter hash,
# so "merge two reservoirs" = "top-k of the union by key" — an
# associative, commutative AND idempotent merge (re-merging the same
# rows cannot change a max), the strongest merge class the state
# framework carries: replays are harmless even before the
# applied-batch marker fires.
_SRES_K = 20
_SRES_P = 2147483647
_SRES_A = 9_436_571  # odd, ≤1.3e7: event_id * A stays in int64 at any sf
_SRES_C = 1_987_654_321 % _SRES_P

_SRES_KEY = f"((event_id * {_SRES_A} + {_SRES_C}) % {_SRES_P})"
_SRES_RANK = (
    f"CAST(floor(1e12 * (ln((CAST({_SRES_KEY} AS DOUBLE) + 1.0)"
    f" / {_SRES_P}) / {{w}})) AS BIGINT)"
)

_STREAM_RESERVOIR_ORACLE = f"""
WITH e AS (
    SELECT CAST(ts AS DATE) AS day, event_id, event_type,
           {_SRES_RANK.format(w="value")} AS es_key_q
    FROM events WHERE value > 0
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(sample_rank AS BIGINT) AS sample_rank,
       event_id, event_type, es_key_q
FROM (
    SELECT *, row_number() OVER (PARTITION BY day
                                 ORDER BY es_key_q DESC, event_id)
               AS sample_rank
    FROM e
) WHERE sample_rank <= {_SRES_K}
ORDER BY day, sample_rank
"""


@query("streaming_reservoir_sample", _STREAM_RESERVOIR_ORACLE)
def streaming_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day exactly-20 weighted event sample (probability ∝ amount)
    maintained THROUGH the streaming engine — the always-fresh debug/
    eval sample a pipeline keeps next to its aggregates: the events
    wire replay runs in micro-batches (maxFilesPerTrigger=8), each
    foreachBatch reduces the batch to its per-day top-20
    Efraimidis-Spirakis keys (batch-local TakeOrdered — state
    contribution is k-bounded BEFORE it touches storage) and merges
    into persistent state by "top-k of the union" via
    ``merge_into_compact_state`` (days × 20 rows is sketch-sized —
    one whole-state swap job per trigger).
    Unlike the additive sketch state (`streaming_quantile_rollup`)
    this merge is IDEMPOTENT, so at-least-once replays are safe by
    algebra and the applied-batch marker is belt-and-braces. The
    driver's hash gate proves the multi-batch maintained reservoir ==
    the from-scratch batch window — Efraimidis-Spirakis's
    batch-boundary independence, demonstrated through the real
    engine."""
    from pyspark.sql import Window

    from ..streaming.state import (
        merge_into_compact_state,
        read_state,
    )

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    keyed = stream.filter(F.col("amount") > 0).select(
        F.to_date("event_timestamp").alias("day"),
        "event_id",
        "event_type",
        F.expr(_SRES_RANK.format(w="amount")).alias("es_key_q"),
    )
    state_dir = os.path.join(scratch_dir("sres_state_"), "reservoir")
    w_day = Window.partitionBy("day").orderBy(
        F.desc("es_key_q"), F.asc("event_id")
    )

    def _topk(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w_day))
            .filter(F.col("rn") <= _SRES_K)
            .drop("rn")
        )

    def _merge_reservoir(
        existing: DataFrame | None, part: DataFrame
    ) -> DataFrame:
        if existing is None:
            return part
        return _topk(
            existing.withColumn("day", F.col("day").cast("date"))
            .unionByName(part)
        )

    def merge_state(batch_df: DataFrame, batch_id: int) -> None:
        merge_into_compact_state(
            state_dir, batch_id, _topk(batch_df), _merge_reservoir,
            shuffle_partitions=4,
        )

    _run_available_now(keyed, merge_state, "streaming_reservoir_sample")

    return (
        read_state(spark, state_dir)
        .withColumn("sample_rank", F.row_number().over(w_day).cast("bigint"))
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "sample_rank",
            "event_id",
            "event_type",
            "es_key_q",
        )
        .orderBy("day", "sample_rank")
    )


# --- streaming SRM guardrail (cumulative experiment monitor) -----------------

# Additive day-partitioned state (the quantile-rollup merge class)
# whose READ side is the experimentation guardrail: cumulative arm
# counts by day -> day-by-day chi-square against the designed 50/50
# split. An SRM firing mid-experiment means assignment/logging broke
# THAT day — the batch srm_check only says it broke eventually.
_SRM_MON_ORACLE = """
WITH u AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
),
daily AS (
    SELECT first_day AS day,
           CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n0,
           CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n1
    FROM u GROUP BY first_day
),
cum AS (
    SELECT day,
           CAST(sum(n0) OVER w AS BIGINT) AS n0,
           CAST(sum(n1) OVER w AS BIGINT) AS n1
    FROM daily
    WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(day AS TIMESTAMP) AS day, n0, n1,
       round((CAST(n0 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
             * (CAST(n0 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
             / ((n0 + n1) / CAST(2 AS DOUBLE))
             + (CAST(n1 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
             * (CAST(n1 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
             / ((n0 + n1) / CAST(2 AS DOUBLE)), 6) AS chi2_cumulative,
       ((CAST(n0 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
        * (CAST(n0 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
        / ((n0 + n1) / CAST(2 AS DOUBLE))
        + (CAST(n1 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
        * (CAST(n1 AS DOUBLE) - (n0 + n1) / CAST(2 AS DOUBLE))
        / ((n0 + n1) / CAST(2 AS DOUBLE))) > 3.841458820694124
           AS srm_alarm
FROM cum
ORDER BY day
"""


@query("streaming_srm_monitor", _SRM_MON_ORACLE)
def streaming_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRM guardrail run THROUGH the streaming engine: the
    per-user enrollment day (first event ever) is maintained as
    user-bucket-partitioned persistent state under a MIN merge —
    idempotent AND batch-order independent, which matters because
    the wire replay's micro-batches are NOT time-ordered (the files
    are hash-repartitioned): a user's earliest event may arrive in a
    later batch, so any "first-seen-this-batch" additive design
    would silently disagree with the true enrollment day under some
    batch orders (this exact hazard was caught during construction —
    min-merge is the fix, not an assumption about replay order). The
    serving read derives daily enrollment counts per arm from the
    state and emits the CUMULATIVE day-by-day χ² against the
    designed 50/50 split with the 3.8415 alarm — the
    page-someone-today version of the batch srm_check."""
    from pyspark.sql import Window

    from ..streaming.state import (
        merge_into_partitioned_state,
        read_state,
    )

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    seen_dir = os.path.join(scratch_dir("srmmon_state_"), "seen")

    def _merge_seen(existing, part):
        # per-user MIN enrollment day: idempotent and batch-order
        # independent (the replay is NOT time-ordered)
        if existing is None:
            return part
        return (
            existing.withColumn(
                "first_day", F.col("first_day").cast("date")
            )
            .unionByName(part)
            .groupBy("bucket", "user_id")
            .agg(F.min("first_day").alias("first_day"))
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_first = (
            batch_df.groupBy("user_id")
            .agg(F.min(F.to_date("event_timestamp")).alias("first_day"))
            .withColumn("bucket", F.pmod(F.col("user_id"), F.lit(16)))
        )
        merge_into_partitioned_state(
            seen_dir, batch_id, batch_first, _merge_seen, "bucket",
            shuffle_partitions=4, write_partitions=1,
        )

    _run_available_now(stream, fold, "streaming_srm_monitor")

    daily = (
        read_state(spark, seen_dir)
        .groupBy(F.col("first_day").alias("day"))
        .agg(
            F.sum(
                F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n0"),
            F.sum(
                F.when(F.pmod(F.col("user_id"), F.lit(2)) == 1, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n1"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n0").over(w).cast("bigint").alias("n0"),
        F.sum("n1").over(w).cast("bigint").alias("n1"),
    )
    e = (F.col("n0") + F.col("n1")) / F.lit(2.0)
    chi2 = (
        (F.col("n0").cast("double") - e) * (F.col("n0").cast("double") - e)
        / e
        + (F.col("n1").cast("double") - e)
        * (F.col("n1").cast("double") - e)
        / e
    )
    return cum.select(
        F.col("day").cast("timestamp").alias("day"),
        "n0",
        "n1",
        F.round(chi2, 6).alias("chi2_cumulative"),
        (chi2 > 3.841458820694124).alias("srm_alarm"),
    ).orderBy("day")


# --- streaming KMV distinct-shingle sketch rollup (eighth state shape) -------

_SKMV_K = 64
_SKMV_SPACE = "1152921504606846976.0"  # 2^60, the h60 hash space


def _skmv_oracle() -> str:
    from ..functions.hashing import h60_sql, shingles_sql

    sh = shingles_sql("text", 3)
    return f"""
WITH ds AS (
    SELECT DISTINCT source, shingle FROM (
        SELECT source, unnest({sh}) AS shingle FROM documents
    )
),
hh AS (SELECT DISTINCT source, {h60_sql("shingle")} AS h FROM ds),
sk AS (
    SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hh
    ) WHERE rn <= {_SKMV_K}
)
SELECT source, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash,
       round(CASE WHEN count(*) >= {_SKMV_K}
                  THEN (count(*) - 1) * {_SKMV_SPACE} / max(h)
                  ELSE CAST(count(*) AS DOUBLE) END, 6) AS est_distinct
FROM sk
GROUP BY source
"""


@query("streaming_kmv_sketch_rollup", _skmv_oracle())
def streaming_kmv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV (bottom-64) distinct-shingle sketches maintained
    THROUGH the streaming engine — the eighth persistent-state shape,
    and the streaming face of `source_overlap_kmv`: each micro-batch
    hashes its documents' 3-gram shingles (md5-derived h60, stateless
    scan work), keeps the batch-local bottom-k per source, and merges
    into the persistent sketch via ``merge_into_compact_state``
    (sources × 64 rows — sketch-sized at any corpus scale). Bottom-k
    merge (distinct-union then re-rank) is associative, commutative
    AND idempotent — the reservoir-class merge algebra, so replays
    are harmless and the final state is batch-boundary independent,
    which is why a FULL hash oracle applies: unlike HLL (engine-
    specific sketch bytes, tolerance contract), the KMV sketch itself
    is cross-engine exact, so the oracle recomputes the entire sketch
    and the estimator from the batch table."""
    from pyspark.sql import Window

    from ..functions.hashing import h60, word_shingles
    from ..streaming.state import merge_into_compact_state, read_state
    from .corpus_prep import _documents_as_stream

    stream = _documents_as_stream(
        spark,
        sf_dir,
        schema="doc_id long, text string, source string",
        max_files_per_trigger=8,
    )
    hashed = stream.select(
        "source", F.explode(word_shingles("text", 3)).alias("shingle")
    ).select("source", h60(F.col("shingle")).alias("h"))

    state_dir = os.path.join(scratch_dir("kmv_state_"), "sketch")

    def _bottom_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("source").orderBy("h")
        return (
            df.select("source", "h")
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _SKMV_K)
            .select("source", "h")
        )

    def _merge_kmv(existing, part):
        if existing is None:
            return _bottom_k(part)
        return _bottom_k(existing.unionByName(part))

    def merge_state(batch_df, batch_id: int) -> None:
        merge_into_compact_state(
            state_dir,
            batch_id,
            _bottom_k(batch_df),
            _merge_kmv,
            shuffle_partitions=4,
        )

    _run_available_now(hashed, merge_state, "streaming_kmv_sketch_rollup")

    sk = read_state(spark, state_dir)
    return sk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("h").alias("kth_hash"),
        F.round(
            F.when(
                F.count(F.lit(1)) >= _SKMV_K,
                (F.count(F.lit(1)) - 1)
                * F.lit(float(2**60))
                / F.max("h"),
            ).otherwise(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("est_distinct"),
    )


# --- streaming exact-dedup ledger (ninth state shape) ------------------------

_LEDGER_BUCKETS = 16

_LEDGER_ORACLE = """
WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
hashed AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(coalesce(text, ''))),
                              '\\s+', ' ', 'g')) AS content_hash
    FROM all_docs
)
SELECT content_hash, min(doc_id) AS canonical_id, count(*) AS n_dups
FROM hashed
GROUP BY content_hash
"""


@query("streaming_dedup_ledger", _LEDGER_ORACLE)
def streaming_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion exact-dedup LEDGER — the ninth persistent-
    state shape, and the streaming face of `dedup_exact`: the corpus
    plus its id-shifted twin replayed as micro-batches, each batch
    pre-aggregated to (bucket, content_hash, min doc_id, count) and
    merged into hash-bucket-partitioned state under a MIXED merge —
    MIN on the canonical id (idempotent, batch-order independent: the
    replay's batches are NOT time-ordered, the streaming_srm_monitor
    hazard) and ADD on the duplicate count (replay-safe via the
    applied-batch markers). This is the production shape for deduping
    a continuously-arriving crawl against everything ever ingested:
    per-trigger I/O touches only the hash buckets the batch lands in,
    state size tracks DISTINCT content (key cardinality — the
    partitioned path, not compact, per the state-module rule). The
    oracle is `dedup_exact`'s batch oracle verbatim — the ledger must
    agree with the one-shot batch answer exactly."""
    from ..functions.hashing import normalize_text
    from ..streaming.state import merge_into_partitioned_state, read_state
    from .corpus_prep import _documents_as_stream

    stream = _documents_as_stream(
        spark, sf_dir, max_files_per_trigger=8
    ).select("doc_id", "text")
    both = stream.unionByName(
        stream.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    hashed = both.select(
        "doc_id", F.md5(normalize_text("text")).alias("content_hash")
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("content_hash"), F.lit(_LEDGER_BUCKETS)),
    )

    state_dir = os.path.join(scratch_dir("ledger_state_"), "ledger")

    def _merge(existing, part):
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("bucket", "content_hash")
            .agg(
                F.min("canonical_id").alias("canonical_id"),
                F.sum("n_dups").alias("n_dups"),
            )
        )

    def merge_state(batch_df, batch_id: int) -> None:
        part = batch_df.groupBy("bucket", "content_hash").agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        merge_into_partitioned_state(
            state_dir, batch_id, part, _merge, "bucket",
            shuffle_partitions=4,
        )

    _run_available_now(hashed, merge_state, "streaming_dedup_ledger")

    return read_state(spark, state_dir).select(
        "content_hash",
        "canonical_id",
        F.col("n_dups").cast("bigint").alias("n_dups"),
    )


# --- streaming funnel rollup (tenth persistent state shape) ------------------
#
# Per-user funnel progression (view -> click -> purchase) maintained
# through the streaming engine. The state row per user is the MINIMUM
# event time of each stage — min is associative, commutative, and
# idempotent, so the merged state is independent of batch boundaries
# AND of replayed commits (the strongest of the state-merge algebra
# classes this module maintains). Conversion requires the first view
# to precede the first click to precede the first purchase — computed
# at READ time from the mins, never stored, so late/out-of-order
# events can only refine the state monotonically.

_SFUNNEL_ORACLE = """
WITH stage AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
)
SELECT
    CAST(count(t_view) AS BIGINT) AS n_view,
    CAST(coalesce(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_view_click,
    CAST(coalesce(sum(CASE WHEN t_view < t_click AND t_click < t_purchase
                           THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_full_funnel
FROM stage
"""

_SFUNNEL_BUCKETS = 16


@query("streaming_funnel_rollup", _SFUNNEL_ORACLE)
def streaming_funnel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel: per-user first-view/first-click/
    first-purchase timestamps maintained as bucket-partitioned
    persistent state over the wire replay (8 files per trigger), then
    the ordered-conversion counts computed FROM the state and checked
    against the batch funnel on the same events. min-per-stage is
    associative + commutative + idempotent, so the state survives any
    batch boundary placement and any at-least-once replay unchanged —
    the oracle hash proves streaming/batch funnel duality through the
    real engine.

    100 TB posture: state is O(active users) keyed rows behind
    ``merge_into_partitioned_state`` (per-trigger I/O proportional to
    the batch's buckets, not the user space); each micro-batch
    pre-collapses to one row per user BEFORE touching state, so the
    merge shuffles batch-keys, not batch-events. The read-side
    conversion scan is one pass over state."""
    from ..streaming.state import (
        merge_into_partitioned_state,
        read_state,
    )

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    keyed = stream.filter(F.col("user_id").isNotNull()).select(
        "user_id", "event_type", "event_timestamp"
    )
    state_dir = os.path.join(scratch_dir("sfunnel_state_"), "funnel")

    def _stage_mins(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.min(
                F.when(
                    F.col("event_type") == "view", F.col("event_timestamp")
                )
            ).alias("t_view"),
            F.min(
                F.when(
                    F.col("event_type") == "click", F.col("event_timestamp")
                )
            ).alias("t_click"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("event_timestamp"),
                )
            ).alias("t_purchase"),
        )

    def _with_bucket(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.pmod(F.xxhash64("user_id"), F.lit(_SFUNNEL_BUCKETS)),
        )

    def _merge(existing: DataFrame | None, part: DataFrame) -> DataFrame:
        base = part.drop("bucket")
        if existing is not None:
            base = existing.drop("bucket").unionByName(base)
        merged = base.groupBy("user_id").agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min("t_purchase").alias("t_purchase"),
        )
        return _with_bucket(merged)

    def merge_state(batch_df: DataFrame, batch_id: int) -> None:
        part = _with_bucket(_stage_mins(batch_df))
        merge_into_partitioned_state(
            state_dir, batch_id, part, _merge, "bucket",
            shuffle_partitions=8, write_partitions=1,
        )

    _run_available_now(keyed, merge_state, "streaming_funnel_rollup")

    stage = read_state(spark, state_dir)
    return stage.agg(
        F.count("t_view").cast("bigint").alias("n_view"),
        F.coalesce(
            F.sum(
                F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_view_click"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("t_view") < F.col("t_click"))
                    & (F.col("t_click") < F.col("t_purchase")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


# --- streaming EXACT distinct via mergeable bitmap state ---------------------
#
# The twelfth persistent state shape, and the only sketch-state whose
# oracle is EXACT: per-(event_type, bucket) roaring-style bitmaps
# (bitmap_construct_agg over bitmap_bit_position) maintained through
# foreachBatch with bitmap_or_agg as the merge. OR is associative,
# commutative AND idempotent, so the state is batch-boundary-proof
# and even the marker-vs-commit crash window cannot corrupt it (a
# replayed batch ORs in bits that are already set). Serving answers
# exact distinct users per type — and the cross-type total by
# OR-merging the SAME state rows — without ever storing user-level
# rows: state is O(types x buckets) bitmaps, never O(users).

_STREAM_BITMAP_ORACLE = """
SELECT event_type AS segment,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS segment,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
"""


@query("streaming_bitmap_rollup", _STREAM_BITMAP_ORACLE)
def streaming_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type maintained THROUGH the
    streaming engine: each micro-batch builds per-(type, bucket)
    bitmaps from its own rows and OR-merges them into the persistent
    bitmap table via ``merge_into_compact_state``. Unlike the HLL
    twin this state serves exact answers (hash-checked, no tolerance
    contract), and the idempotent OR makes replay safety an algebraic
    property rather than a marker discipline. The ALL row OR-merges
    the same state rows across types at read time — the
    materialized-bitmap rollup pattern, kept continuously current."""
    from ..streaming.state import merge_into_compact_state, read_state

    stream = _events_as_wire_stream(spark, sf_dir, max_files_per_trigger=8)
    keyed = stream.filter(F.col("user_id").isNotNull()).selectExpr(
        "event_type",
        "bitmap_bucket_number(user_id) AS bkt",
        "bitmap_bit_position(user_id) AS pos",
    )
    state_dir = os.path.join(scratch_dir("bmroll_state_"), "bitmaps")

    def _merge_bm(existing, part):
        if existing is None:
            return part
        return (
            existing.unionByName(part)
            .groupBy("event_type", "bkt")
            .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        )

    def merge_state(batch_df, batch_id: int) -> None:
        part = batch_df.groupBy("event_type", "bkt").agg(
            F.expr("bitmap_construct_agg(pos)").alias("bm")
        )
        merge_into_compact_state(
            state_dir, batch_id, part, _merge_bm, shuffle_partitions=4
        )

    _run_available_now(keyed, merge_state, "streaming_bitmap_rollup")

    bitmaps = read_state(spark, state_dir)
    per_type = bitmaps.groupBy(F.col("event_type").alias("segment")).agg(
        F.expr("sum(bitmap_count(bm))").cast("bigint").alias(
            "n_distinct_users"
        )
    )
    merged = (
        bitmaps.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(
            F.expr("sum(bitmap_count(bm))")
            .cast("bigint")
            .alias("n_distinct_users")
        )
        .select(F.lit("ALL").alias("segment"), "n_distinct_users")
    )
    return per_type.unionByName(merged)

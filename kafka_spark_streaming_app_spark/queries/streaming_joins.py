"""Stream-stream join and streaming deduplication — the two Structured
Streaming capabilities beyond the reference's single-stream pipeline
(ecommerce_streaming.py drives one source into independent sinks; it
never joins two live streams or dedups a replayed feed).

Both queries run the REAL streaming engine over the JSON wire replay
(same harness as queries/streaming.py) and are hash-checked against a
batch SQL oracle, so the driver verifies the engine's join/dedup state
machinery, not just the arithmetic.

Scale notes:
- ``streaming_dedup_within_watermark``: dedup state is keyed by
  event_id and EVICTED once the watermark passes the event's time +
  delay — at-least-once Kafka replays dedup with bounded state, the
  production shape for exactly-once ingestion without an idempotent
  sink.
- ``streaming_view_purchase_join``: inner stream-stream equi-join on
  user_id with an event-time range bound; the watermark + range bound
  let the engine drop buffered rows older than (watermark − range), so
  state is O(events within the join window), not O(stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.batch import load_table
from .feeds import memo_dir
from .streaming import _events_as_wire_stream, _run_to_table

_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type,
       value AS amount, ts AS event_timestamp
FROM events
"""


@query("streaming_dedup_within_watermark", _DEDUP_ORACLE)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Replay the wire stream TWICE (union of two source instances —
    every event arrives duplicated, the at-least-once delivery shape)
    and collapse with ``dropDuplicatesWithinWatermark`` keyed on
    event_id. The oracle is the plain events table: exactly one
    surviving row per event proves in-batch and cross-instance
    duplicates both die while state stays watermark-bounded."""
    once = _events_as_wire_stream(spark, sf_dir)
    again = _events_as_wire_stream(spark, sf_dir)
    deduped = once.union(again).dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.select(
        "event_id", "user_id", "event_type", "amount", "event_timestamp"
    )
    return _run_to_table(spark, out, output_mode="append")


_JOIN_WINDOW = "2 hours"

_SS_JOIN_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts,
       p.value AS amount
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 2 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@query("streaming_view_purchase_join", _SS_JOIN_ORACLE)
def streaming_view_purchase_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution join executed BY THE STREAMING ENGINE: each purchase
    is matched to every view by the same user in the preceding 2 hours
    — two independently watermarked stream instances, inner-joined on
    user_id with an event-time range condition (the state-cleanup
    contract). The oracle is the equivalent batch self-join."""
    views = (
        _events_as_wire_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", "event_id", "event_timestamp")
    )
    purchases = (
        _events_as_wire_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("amount"),
            F.col("event_timestamp").alias("purchase_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("event_timestamp"))
        & (
            F.col("purchase_ts")
            <= F.col("event_timestamp") + F.expr(f"INTERVAL {_JOIN_WINDOW}")
        ),
        "inner",
    ).select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        "purchase_event_id",
        F.col("event_timestamp").alias("view_ts"),
        "purchase_ts",
        "amount",
    )
    # bounded harness: 8 state partitions (32 state stores instead of
    # 128 for the 4-store-per-partition join) — the replay is ~100 MB;
    # a production deployment keeps the cluster-wide default
    return _run_to_table(
        spark, joined, output_mode="append", shuffle_partitions=8
    )


# LEFT OUTER adds the state-EXPIRY semantic the inner join never
# exercises: a view with no purchase emits NULL-padded only once the
# watermark proves no match can arrive — i.e. its state evicted. With
# a finite replay the final watermark is max_ts − 30 s, so exactly the
# unmatched views whose 2 h window closed before it are emitted; later
# unmatched views are (correctly) never released. The oracle states
# that bound explicitly.
_SS_LEFT_ORACLE = """
WITH wm AS (
    SELECT max(ts) - INTERVAL 30 SECOND AS w FROM events
),
v AS (SELECT * FROM events WHERE event_type = 'view'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           p.value AS amount
    FROM v
    JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 2 HOUR
),
unmatched AS (
    SELECT v.user_id,
           v.event_id AS view_event_id,
           CAST(NULL AS BIGINT) AS purchase_event_id,
           v.ts AS view_ts,
           CAST(NULL AS TIMESTAMP) AS purchase_ts,
           CAST(NULL AS DOUBLE) AS amount
    FROM v
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL 2 HOUR
    )
      AND v.ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
)
SELECT * FROM matched
UNION ALL
SELECT * FROM unmatched
"""


@query("streaming_view_purchase_left_join", _SS_LEFT_ORACLE)
def streaming_view_purchase_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join through the real engine: matches
    emit like the inner join; a NULL-padded row emits only when the
    watermark passes the view's join window (state eviction = proof of
    no-match). The oracle enumerates both populations — the batch left
    join restricted by the final watermark bound — so the driver hash
    checks the engine's outer-row release machinery."""
    views = (
        _events_as_wire_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", "event_id", "event_timestamp")
    )
    purchases = (
        _events_as_wire_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("amount"),
            F.col("event_timestamp").alias("purchase_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("event_timestamp"))
        & (
            F.col("purchase_ts")
            <= F.col("event_timestamp") + F.expr(f"INTERVAL {_JOIN_WINDOW}")
        ),
        "left_outer",
    ).select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        "purchase_event_id",
        F.col("event_timestamp").alias("view_ts"),
        "purchase_ts",
        "amount",
    )
    return _run_to_table(
        spark, joined, output_mode="append", shuffle_partitions=8
    )


# FULL OUTER exercises BOTH sides' state-expiry machinery: an
# unmatched row on either side emits NULL-padded only when the
# watermark proves no partner can still arrive. WHICH rows the finite
# replay releases depends on the engine's per-side state-watermark
# derivation AND on micro-batch layout (the purchase side's bound was
# measured to be batch-sensitive), so instead of encoding a fragile
# bound the query drives the watermark itself: a far-future SENTINEL
# event (user_id -1, max(ts) + 10 h) is unioned into BOTH input
# streams, the final no-data batch's watermark passes every real
# row's join window, and ALL state drains. That is also the
# production pattern for flushing outer-join state at stream
# shutdown. The oracle is then the clean, bound-free batch full
# outer join.
_SS_FULL_ORACLE = """
WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           p.value AS amount
    FROM v
    JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 2 HOUR
),
unmatched_v AS (
    SELECT v.user_id,
           v.event_id AS view_event_id,
           CAST(NULL AS BIGINT) AS purchase_event_id,
           v.ts AS view_ts,
           CAST(NULL AS TIMESTAMP) AS purchase_ts,
           CAST(NULL AS DOUBLE) AS amount
    FROM v
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL 2 HOUR
    )
),
unmatched_p AS (
    SELECT p.user_id,
           CAST(NULL AS BIGINT) AS view_event_id,
           p.event_id AS purchase_event_id,
           CAST(NULL AS TIMESTAMP) AS view_ts,
           p.ts AS purchase_ts,
           p.value AS amount
    FROM p
    WHERE NOT EXISTS (
        SELECT 1 FROM v
        WHERE v.user_id = p.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL 2 HOUR
    )
)
SELECT * FROM matched
UNION ALL
SELECT * FROM unmatched_v
UNION ALL
SELECT * FROM unmatched_p
"""

def _events_with_flush_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wire replay PLUS a far-future flush sentinel (one 'view' +
    one 'purchase' at max(events.ts) + 10 h, user_id -1), unioned at
    the RAW text level so one watermark operator sees both sources —
    a sentinel behind its own watermark node would be useless, since
    the global watermark is the MIN across operators. The sentinel
    lifts the final watermark past every real row's join window,
    draining outer-join state (the shutdown-flush pattern)."""
    from ..streaming.pipeline import parse_and_clean
    from .streaming import WIRE_SCHEMA, _events_wire_dir

    def write_sentinel(sent_dir: str) -> None:
        events = load_table(spark, sf_dir, "events")
        flush_ts = F.date_format(
            F.max("ts") + F.expr("INTERVAL 10 HOURS"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS",
        )
        rows = events.agg(flush_ts.alias("t")).selectExpr(
            """explode(array(
                 to_json(named_struct(
                   'event_id', -1L, 'user_id', -1L,
                   'event_type', 'view', 'amount', 0.0d,
                   'timestamp', t)),
                 to_json(named_struct(
                   'event_id', -2L, 'user_id', -1L,
                   'event_type', 'purchase', 'amount', 0.0d,
                   'timestamp', t)))) AS value"""
        )
        rows.coalesce(1).write.mode("overwrite").text(sent_dir)

    wire_dir = _events_wire_dir(spark, sf_dir)
    sent_dir = memo_dir(spark, sf_dir, "wire_sentinel", write_sentinel)
    raw = spark.readStream.text(wire_dir).union(
        spark.readStream.text(sent_dir)
    )
    return parse_and_clean(raw, WIRE_SCHEMA, ts_field="timestamp")


@query("streaming_view_purchase_full_join", _SS_FULL_ORACLE)
def streaming_view_purchase_full_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream join through the real engine: matches
    emit like the inner join; NULL-padded rows on BOTH sides emit
    when the watermark proves no partner can arrive. A far-future
    sentinel row unioned into each input stream advances the final
    watermark past every real row's join window (the shutdown-flush
    pattern), so the complete outer population emits and the oracle
    is the bound-free batch full outer join — the driver hash checks
    both sides' state eviction/release machinery end to end."""
    views = (
        _events_with_flush_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", "event_id", "event_timestamp")
    )
    purchases = (
        _events_with_flush_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("amount"),
            F.col("event_timestamp").alias("purchase_ts"),
        )
    )
    joined = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("event_timestamp"))
            & (
                F.col("purchase_ts")
                <= F.col("event_timestamp")
                + F.expr(f"INTERVAL {_JOIN_WINDOW}")
            ),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("user_id"), F.col("p_user_id")).alias(
                "user_id"
            ),
            F.col("event_id").alias("view_event_id"),
            "purchase_event_id",
            F.col("event_timestamp").alias("view_ts"),
            "purchase_ts",
            "amount",
        )
        .filter(F.col("user_id") != -1)
    )
    return _run_to_table(
        spark, joined, output_mode="append", shuffle_partitions=8
    )

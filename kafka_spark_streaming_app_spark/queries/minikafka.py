"""Kafka ROUND-TRIP queries over the from-scratch wire protocol
(sources/minikafka.py + minikafka_ds.py): the reference's
produce → broker → consume → parse → window pipeline
(`ecommerce_streaming.py:38-52` source, `:119-133` sink), executed
end-to-end through REAL Kafka v0 protocol frames on a live socket —
the one capability previously only pytest-gated behind a missing
broker.

Dataflow, all executor-side:

  wire_replay source (deterministic payloads)
    -> minikafka SINK  (Produce v0 from executor tasks)
    -> in-process broker (CRC-checked append log)
    -> minikafka SOURCE (offset-addressed Fetch v0 per task)
    -> parse_and_clean  (the reference ingestion path)
    -> typed rows / windowed aggregate

The payloads are pure functions of the row index (h60 hash), so the
DuckDB oracle reconstructs the exact stream from ``range(n)`` — a
hash match proves the producer partitioning, the broker's offset
assignment, CRC framing, the fetch path, and the parse in one check.

At-least-once note: producing is not transactional (matching the
real non-transactional Kafka sink); a task retry would duplicate.
The memoized produce step runs once per session; production
pipelines dedup on a message key downstream (`streaming_dedup_ledger`
is this repo's worked example).
"""

from __future__ import annotations

import atexit
import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session
from ..registry import query
from ..schemas import ORDER_SCHEMA
from ..streaming.pipeline import parse_and_clean
from .feeds import scratch_dir
from .pyds import _case, _h, _LOC_CASE, _PYDS_ORACLE, _ROWS
from .streaming import _run_to_table

_TOPIC = "orders"
_V2_TOPIC = "orders_v2"
_SNAPPY_TOPIC = "orders_snappy"
_LZ4_TOPIC = "orders_lz4"
_STREAM_TOPIC = "orders_live"
_PIPELINE_TOPIC = "orders_pipeline"
_N_PARTITIONS = 4
_WAVES = 4

# one broker per SparkSession
_BROKERS: dict = {}


def _produced_through(broker, topic: str) -> int:
    """Total messages on the topic — the produce-progress ledger.
    Deterministic produce means expected counts are exact, so this
    replaces an in-memory flag: idempotent across reruns in the same
    session, and LOUD if a crashed produce left a partial
    (append-only) topic instead of silently double-producing."""
    return sum(broker.end_offsets(topic))


def _broker(spark: SparkSession):
    key = spark.sparkContext.applicationId
    b = _BROKERS.get(key)
    if b is not None:
        return b
    from ..sources.minikafka import MiniKafkaBroker
    from ..sources.minikafka_ds import register_minikafka
    from ..sources.pyds import register_wire_replay

    b = MiniKafkaBroker()
    atexit.register(b.close)
    b.create_topic(_TOPIC, partitions=_N_PARTITIONS)
    b.create_topic(_V2_TOPIC, partitions=_N_PARTITIONS)
    b.create_topic(_SNAPPY_TOPIC, partitions=_N_PARTITIONS)
    b.create_topic(_LZ4_TOPIC, partitions=_N_PARTITIONS)
    b.create_topic(_STREAM_TOPIC, partitions=_N_PARTITIONS)
    b.create_topic(_PIPELINE_TOPIC, partitions=_N_PARTITIONS)
    register_wire_replay(spark)
    register_minikafka(spark)
    _BROKERS[key] = b
    return b


def _produce_rows(
    spark: SparkSession, broker, topic: str, start: int, end: int,
    compression: str = "none",
) -> None:
    """Distributed produce of wire payloads [start, end): wire_replay
    source -> minikafka sink, every task speaking Produce v0 (or, with
    ``compression=gzip``, Produce v3 RecordBatch v2) over its own
    socket."""
    (
        spark.read.format("wire_replay")
        .option("startRow", start)
        .option("rows", end)
        .option("numPartitions", 8)
        .load()
        # key = order_id: the broker-side partition is then a pure
        # function of the payload (crc32(key) % partitions)
        .select(
            F.get_json_object("value", "$.order_id").alias("key"),
            "value",
        )
        .write.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", topic)
        .option("compression.type", compression)
        .mode("append")
        .save()
    )


@query("kafka_wire_orders", _PYDS_ORACLE)
def kafka_wire_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch consume of the produced topic: offset-addressed Fetch v0
    per Spark task, then the reference ingestion path. Oracle =
    payload reconstruction from range(n) — identical rows to
    pyds_wire_orders, but having transited the wire protocol."""
    broker = _broker(spark)
    total = _produced_through(broker, _TOPIC)
    if total == 0:
        _produce_rows(spark, broker, _TOPIC, 0, _ROWS)
    elif total != _ROWS:
        raise RuntimeError(
            f"topic {_TOPIC} holds {total} of {_ROWS} messages — a "
            "prior produce died mid-write; the log is append-only, "
            "use a fresh session/topic"
        )
    raw = (
        spark.read.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", _TOPIC)
        .option("minPartitions", 8)
        .load()
    )
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    return parsed.select(
        "order_id", "user_id", "product_id", "product_name",
        "category", "price", "quantity", "total_amount", "location",
        "event_timestamp", "is_fraud_simulation",
    )


@query("kafka_wire_orders_v2", _PYDS_ORACLE)
def kafka_wire_orders_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern-format twin of ``kafka_wire_orders``: the same
    payloads ride Produce v3 as gzip-compressed RecordBatch v2 frames
    (zigzag varints + CRC-32C, ``sources/kafkarecords.py``) and come
    back through Fetch v4 per Spark task (``recordFormat=v2``). The
    identical oracle hash proves format-v2 framing, CRC-32C, gzip,
    and the v3/v4 request/response layouts carry the exact same data
    the v0 path does."""
    broker = _broker(spark)
    total = _produced_through(broker, _V2_TOPIC)
    if total == 0:
        _produce_rows(
            spark, broker, _V2_TOPIC, 0, _ROWS, compression="gzip"
        )
    elif total != _ROWS:
        raise RuntimeError(
            f"topic {_V2_TOPIC} holds {total} of {_ROWS} messages — a "
            "prior produce died mid-write; the log is append-only, "
            "use a fresh session/topic"
        )
    raw = (
        spark.read.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", _V2_TOPIC)
        .option("minPartitions", 8)
        .option("recordFormat", "v2")
        .load()
    )
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    return parsed.select(
        "order_id", "user_id", "product_id", "product_name",
        "category", "price", "quantity", "total_amount", "location",
        "event_timestamp", "is_fraud_simulation",
    )


@query("kafka_wire_orders_snappy", _PYDS_ORACLE)
def kafka_wire_orders_snappy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``kafka_wire_orders_v2`` at ``compression.type=snappy`` — the
    default codec of real 2020s producers, via the from-scratch
    snappy block codec + snappy-java xerial framing
    (``operators/snappycodec.py``, cross-validated against the real
    C++ snappy both directions). The identical oracle hash proves the
    compressed frames carry the exact same data as v0 and gzip-v2."""
    broker = _broker(spark)
    total = _produced_through(broker, _SNAPPY_TOPIC)
    if total == 0:
        _produce_rows(
            spark, broker, _SNAPPY_TOPIC, 0, _ROWS,
            compression="snappy",
        )
    elif total != _ROWS:
        raise RuntimeError(
            f"topic {_SNAPPY_TOPIC} holds {total} of {_ROWS} messages "
            "— a prior produce died mid-write; the log is append-"
            "only, use a fresh session/topic"
        )
    raw = (
        spark.read.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", _SNAPPY_TOPIC)
        .option("minPartitions", 8)
        .option("recordFormat", "v2")
        .load()
    )
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    return parsed.select(
        "order_id", "user_id", "product_id", "product_name",
        "category", "price", "quantity", "total_amount", "location",
        "event_timestamp", "is_fraud_simulation",
    )


@query("kafka_wire_orders_lz4", _PYDS_ORACLE)
def kafka_wire_orders_lz4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``kafka_wire_orders_v2`` at ``compression.type=lz4`` — the
    from-scratch LZ4 frame codec + xxHash32
    (``operators/lz4codec.py``, cross-validated against the real lz4
    bundled with pyarrow both directions, block and frame layers).
    With gzip and snappy this completes the compression surface real
    producers actually use; the identical oracle hash proves the
    frames carry the same data."""
    broker = _broker(spark)
    total = _produced_through(broker, _LZ4_TOPIC)
    if total == 0:
        _produce_rows(
            spark, broker, _LZ4_TOPIC, 0, _ROWS, compression="lz4"
        )
    elif total != _ROWS:
        raise RuntimeError(
            f"topic {_LZ4_TOPIC} holds {total} of {_ROWS} messages "
            "— a prior produce died mid-write; the log is append-"
            "only, use a fresh session/topic"
        )
    raw = (
        spark.read.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", _LZ4_TOPIC)
        .option("minPartitions", 8)
        .option("recordFormat", "v2")
        .load()
    )
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    return parsed.select(
        "order_id", "user_id", "product_id", "product_name",
        "category", "price", "quantity", "total_amount", "location",
        "event_timestamp", "is_fraud_simulation",
    )


def _windowed_location_agg(parsed: DataFrame) -> DataFrame:
    """1-minute tumbling window × location: order count and exact
    cents (decimal-stabilized double sum) — the reference's windowed
    aggregation shape over the wire payloads."""
    return (
        parsed.groupBy(
            F.window("event_timestamp", "1 minute").alias("w"),
            "location",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.round(F.col("total_amount") * 100, 0).cast("bigint")
            ).cast("bigint").alias("cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "location", "n_orders", "cents",
        )
    )


def _wave_steps(spark: SparkSession, broker, topic: str) -> list:
    """One driver-side step per wave, each producing its wave of the
    deterministic stream, for a running query to drain into its own
    micro-batch. Progress is read from the broker's own end offsets
    (not an in-memory flag): a replayed query in the same session
    finds the topic complete and produces nothing, and a partial prior
    produce raises instead of silently appending duplicates."""
    per_wave = -(-_ROWS // _WAVES)

    def produce(w: int) -> None:
        lo = w * per_wave
        hi = min(lo + per_wave, _ROWS)
        total = _produced_through(broker, topic)
        if total < hi:
            if total != lo:
                raise RuntimeError(
                    f"topic {topic} holds {total} messages, wave "
                    f"{w} expects {lo} — a prior produce died "
                    "mid-write; the log is append-only, use a fresh "
                    "session/topic"
                )
            if lo < hi:
                _produce_rows(spark, broker, topic, lo, hi)

    return [functools.partial(produce, w) for w in range(_WAVES)]


_ROUNDTRIP_ORACLE = f"""
WITH payload AS (
    SELECT
        {_LOC_CASE} AS location,
        {_case("price")} * CAST({_h("q")} % 5 + 1 AS INTEGER)
            AS total_amount,
        TIMESTAMP '2024-01-01 10:00:00' + to_milliseconds(i * 500)
            AS event_timestamp
    FROM range(0, {_ROWS}) t(i)
)
SELECT
    make_timestamp((CAST(floor(epoch(event_timestamp) / 60) AS BIGINT)
                    * 60) * 1000000) AS window_start,
    location,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(round(total_amount * 100, 0) AS BIGINT)) AS BIGINT)
        AS cents
FROM payload
GROUP BY window_start, location
ORDER BY window_start, location
"""


@query("streaming_kafka_roundtrip", _ROUNDTRIP_ORACLE)
def streaming_kafka_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's full streaming pipeline over the wire
    protocol, with data arriving WHILE the query runs: the producer
    sends the stream in waves, each wave drained to its own
    micro-batch (processAllAvailable between waves) — real
    incremental consumption, offsets advancing per trigger, state
    carried across batches. Parse, 1-minute tumbling window ×
    location, complete-mode memory sink. Finite deterministic input
    => the streaming result must equal the batch oracle,
    hash-checking the streaming engine + wire protocol together."""
    broker = _broker(spark)
    raw = (
        spark.readStream.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", _STREAM_TOPIC)
        .load()
    )
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    # state width sized by state volume (windows x locations), the
    # streaming-module rule — not the session shuffle width (r12)
    return _run_to_table(
        spark, _windowed_location_agg(parsed), "complete",
        shuffle_partitions=8,
        steps=_wave_steps(spark, broker, _STREAM_TOPIC),
    ).orderBy("window_start", "location")


def _delta_refresh(committer, batch_df: DataFrame, batch_id: int) -> None:
    """Full-refresh OVERWRITE transaction: one commit atomically
    replaces the table's entire live file set (remove-all + add) —
    the streaming materialized-view maintenance pattern (a
    complete-mode aggregate lands each trigger's full state). The data
    path is a distributed write; the driver replays the O(KB) log and
    writes the commit JSON. A foreachBatch replay is a no-op via the
    txn ledger, checked before the write so it never rewrites files a
    commit already names."""
    from ..sources.lakehouse import part_files

    if committer.committed_batch_id() >= batch_id:
        return
    rel = f"refresh-{batch_id:05d}"
    batch_df.write.mode("overwrite").parquet(
        os.path.join(committer.table_dir, rel)
    )
    committer.commit(
        batch_id,
        committer.add_entries(
            batch_df.sparkSession, part_files(committer.table_dir, rel)
        ),
        overwrite=True,
    )


@query("streaming_kafka_to_delta_pipeline", _ROUNDTRIP_ORACLE)
def streaming_kafka_to_delta_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's FULL architecture in one oracle-checked run
    (producer -> Kafka -> Structured Streaming -> lakehouse sink,
    `ecommerce_streaming.py:38-133` end to end): orders produced in
    waves over the wire protocol while the query runs, the windowed
    aggregate maintained in complete mode, and every micro-batch
    landed as a real Delta OVERWRITE transaction (remove-all + add —
    streaming materialized-view maintenance) with write-side
    checkpoints. The result is read back through the transaction-log
    replay, so the hash proves wire framing, streaming aggregation,
    overwrite-transaction atomicity, checkpoint handoff, and replay
    in a single check.

    Scale posture: Kafka reads are offset-addressed per task; the
    aggregate state is windows × locations (matview-sized, the one
    thing that SHOULD flow whole per refresh); the Delta data path is
    a distributed write with the driver holding only the O(KB) log."""
    from ..sources.deltalog import DeltaCommitter, read_delta_snapshot

    broker = _broker(spark)
    raw = (
        spark.readStream.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", _PIPELINE_TOPIC)
        .load()
    )
    agg = _windowed_location_agg(
        parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    )
    table_dir = scratch_dir("kafka_delta_pipe_")
    # interval 2 so the sf0.01 run transits a sink-written checkpoint
    # before the readback
    committer = DeltaCommitter(
        table_dir,
        (
            ("window_start", "timestamp"),
            ("location", "string"),
            ("n_orders", "long"),
            ("cents", "long"),
        ),
        checkpoint_interval=2,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _delta_refresh(committer, batch_df, batch_id)

    # state width sized by state volume (windows x locations), as above
    with session.shuffle_partitions(spark, 8):
        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", scratch_dir("kafka_delta_pipe_ckpt_"))
            .start()
        )
    try:
        for produce in _wave_steps(spark, broker, _PIPELINE_TOPIC):
            produce()
            q.processAllAvailable()
    finally:
        q.stop()
    return read_delta_snapshot(spark, table_dir).orderBy(
        "window_start", "location"
    )

"""Streaming sources.

Two interchangeable sources behind one shape (the reference's own
pattern: its ``main()`` swaps the Kafka source for a rate source
without touching any downstream operator — reference
``ecommerce_streaming.py:170-186``):

- **Kafka** — full option parity with the reference's reader
  (``read_kafka_stream``, ecommerce_streaming.py:38-52). The connector
  jar (`spark-sql-kafka-0-10`) ships separately from pip pyspark, so
  construction raises a clear error when it's absent; no broker is
  needed in this environment.
- **Rate** — deterministic synthetic order stream: the reference's 9
  column derivations off the monotonically-increasing ``value``
  (ecommerce_streaming.py:176-183), re-expressed as a pure transform
  usable on ANY (timestamp, value) input — batch range() for tests,
  rate stream for soak runs.

Kafka transport caveat
----------------------
Option parity with the reference reader/writer is oracle- and
test-proven (every downstream operator hash-matches an independent
DuckDB oracle via the file/rate sources, and the option dicts are
asserted verbatim), but the Kafka *transport* itself has never carried
a message in this environment: no broker runs here and the
``spark-sql-kafka-0-10`` connector jar ships separately from pip
pyspark. When a broker exists, validate end-to-end with::

    spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> \
        app.py --source kafka --bootstrap <host:9092> --topic ecommerce-events

Everything downstream of the source boundary is identical across the
three sources by construction, so the remaining risk is connector
configuration (auth, offsets, topic ACLs), not query semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Option parity with the reference Kafka reader (ecommerce_streaming.py:43-51).
KAFKA_READER_DEFAULTS = {
    "startingOffsets": "latest",
    "maxOffsetsPerTrigger": "1000",
    "kafka.request.timeout.ms": "60000",
    "kafka.session.timeout.ms": "30000",
    "kafka.heartbeat.interval.ms": "10000",
    "kafka.connections.max.idle.ms": "300000",
    "kafka.metadata.max.age.ms": "300000",
}


def kafka_security_options(
    security_protocol: str | None = None,
    sasl_mechanism: str | None = None,
    sasl_jaas_config: str | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Generic auth/TLS option block for the Spark Kafka connector —
    closes the reference's SASL path (ecommerce_data_producer.py:30-44)
    without any cloud-specific plumbing: the caller supplies whatever
    ``security.protocol`` / ``sasl.*`` values their broker needs and
    they are passed through verbatim under the connector's ``kafka.``
    prefix (already-prefixed keys in ``extra`` are kept as-is)."""
    out: dict[str, str] = {}
    if security_protocol:
        out["kafka.security.protocol"] = security_protocol
    if sasl_mechanism:
        out["kafka.sasl.mechanism"] = sasl_mechanism
    if sasl_jaas_config:
        out["kafka.sasl.jaas.config"] = sasl_jaas_config
    for key, value in (extra or {}).items():
        out[key if key.startswith("kafka.") else f"kafka.{key}"] = value
    return out


def build_kafka_reader_options(
    kafka_servers: str,
    topic: str,
    options: dict[str, str] | None = None,
    security: dict[str, str] | None = None,
) -> dict[str, str]:
    """Assemble the full reader option map (pure — unit-testable
    without a broker or the connector jar): reference-tuned defaults,
    then security passthrough, then caller overrides, last wins."""
    return {
        "kafka.bootstrap.servers": kafka_servers,
        "subscribe": topic,
        **KAFKA_READER_DEFAULTS,
        **(security or {}),
        **(options or {}),
    }


def read_kafka_stream(
    spark: SparkSession,
    kafka_servers: str,
    topic: str,
    options: dict[str, str] | None = None,
    security: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka stream source with the reference's tuned options plus
    optional auth passthrough (``security`` — build with
    :func:`kafka_security_options`).
    Raises RuntimeError with remediation if the Kafka connector jar is
    not on the classpath (pip pyspark does not bundle it)."""
    reader = spark.readStream.format("kafka")
    for key, value in build_kafka_reader_options(
        kafka_servers, topic, options, security
    ).items():
        reader = reader.option(key, value)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - env without the jar
        raise RuntimeError(
            "Kafka source unavailable: the spark-sql-kafka-0-10 connector "
            "jar is not on the classpath. Submit with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
            "or use the rate/file sources."
        ) from exc


def synthesize_orders(df: DataFrame) -> DataFrame:
    """The reference's deterministic synthetic-order derivations
    (ecommerce_streaming.py:176-183) as a pure transform over any
    (timestamp, value) relation — batch or streaming.

    value % 4 drives product/category, % 3 location, % 100 user,
    % 500 + 50 amount, % 10 = 0 the fraud flag.
    """
    v = F.col("value")
    return (
        df.withColumn("order_id", F.concat(F.lit("order_"), v))
        .withColumn("user_id", F.concat(F.lit("user_"), v % 100))
        .withColumn(
            "product_name",
            F.when(v % 4 == 0, "MacBook Pro").otherwise("Nike Shoes"),
        )
        .withColumn(
            "category",
            F.when(v % 4 == 0, "Electronics").otherwise("Clothing"),
        )
        .withColumn("total_amount", (v % 500 + 50.0).cast("double"))
        .withColumn("location", F.when(v % 3 == 0, "US").otherwise("UK"))
        .withColumn("is_fraud_simulation", v % 10 == 0)
        .withColumn("event_timestamp", F.col("timestamp"))
    )


def read_rate_orders(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Rate-source synthetic order stream (reference test mode,
    ecommerce_streaming.py:171-184), watermarked like the original."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return synthesize_orders(rate).withWatermark("event_timestamp", "30 seconds")

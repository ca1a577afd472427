"""Producer + admin tools: deterministic generation, file transport
feeding the real ingestion path, clean degradation without kafka-python."""

from __future__ import annotations

import tempfile
import uuid

import pytest

from kafka_spark_streaming_app_spark.schemas import ORDER_SCHEMA
from kafka_spark_streaming_app_spark.streaming.pipeline import (
    parse_and_clean,
    write_memory_stream,
)
from kafka_spark_streaming_app_spark.tools.producer import (
    generate_orders,
    produce_to_files,
)


def test_orders_are_deterministic_and_schema_complete():
    a = generate_orders(50, seed=7)
    b = generate_orders(50, seed=7)
    assert a == b
    assert set(a[0]) == {f.name for f in ORDER_SCHEMA.fields}
    assert any(o["total_amount"] > 1000 for o in a), "no high-value orders generated"
    assert any(o["is_fraud_simulation"] for o in a)
    assert any(o["location"] == "XX" for o in a)


def test_file_transport_feeds_ingestion_path(spark):
    out = tempfile.mkdtemp(prefix="producer_")
    paths = produce_to_files(out, n=60, batch_size=20)
    assert len(paths) == 3
    raw = spark.readStream.text(out)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    name = f"prod_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(parsed, name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name)
    assert rows.count() == 60
    assert rows.filter("total_amount > 1000").count() > 0


def test_kafka_paths_degrade_cleanly():
    from kafka_spark_streaming_app_spark.tools import kafka_admin, producer

    try:
        import kafka  # noqa: F401

        pytest.skip("kafka-python installed; degradation path not applicable")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="kafka-python"):
        kafka_admin.create_topics("localhost:9092")
    with pytest.raises(RuntimeError, match="kafka-python"):
        producer.produce_to_kafka("localhost:9092", n=1)


def test_consumer_smoke_file_transport(tmp_path):
    """Reference kafka_consumer_test parity through the file transport:
    caps at max_messages, reports partition/offset/value, and lists
    available sources on an empty read."""
    from kafka_spark_streaming_app_spark.tools.consumer import (
        consume_sample_files,
    )
    from kafka_spark_streaming_app_spark.tools.producer import (
        produce_to_files,
    )

    out = str(tmp_path / "wire")
    produce_to_files(out, n=30, batch_size=10)
    got = consume_sample_files(out, max_messages=10)
    assert not got["empty"] and len(got["messages"]) == 10
    first = got["messages"][0]
    assert first["value"]["order_id"].startswith("order_")
    assert first["offset"] == 0 and first["partition"].startswith("orders_")

    empty_dir = str(tmp_path / "empty")
    import os

    os.makedirs(empty_dir)
    got = consume_sample_files(empty_dir, max_messages=10)
    assert got["empty"] and got["available"] == []


def test_bench_time_query_and_job_report(spark, sf_smoke):
    """``bench.py --only``'s two halves on the shared session: the timing
    function returns one sample per run, and the job report lists the
    query's own jobs and none of a query run just before it."""
    import bench

    sc = spark.sparkContext
    sc.setJobGroup("before_bench", "before_bench")
    try:
        spark.range(10).count()
    finally:
        sc._jsc.clearJobGroup()
    before = set(sc.statusTracker().getJobIdsForGroup("before_bench"))
    assert before

    samples = bench.time_query(spark, "q6_forecast_revenue", sf_smoke, runs=2)
    assert len(samples) == 2 and all(t > 0 for t in samples)
    jobs = bench.job_report(spark, "q6_forecast_revenue")
    assert any(tasks > 0 for _, _, tasks, _ in jobs), jobs
    assert all(ms >= 0 for _, ms, _, _ in jobs), jobs
    assert not before & {job_id for job_id, _, _, _ in jobs}

"""Streaming semantics that have no SQL oracle: watermark late-data
drop under append mode, the rate-source order synthesis, foreachBatch
sink idempotence, multi-sink fan-out, and the failure paths of the
finite-run drivers and scratch-state helpers the queries share."""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_app_spark.schemas import ORDER_SCHEMA
from kafka_spark_streaming_app_spark.sources.streams import synthesize_orders
from kafka_spark_streaming_app_spark.streaming.pipeline import (
    foreach_batch_parquet,
    parse_and_clean,
    write_memory_stream,
)


def _write_wire_file(dir_: str, name: str, rows: list[dict]) -> None:
    # readStream.text exposes each raw line as the `value` column, so
    # each line is the bare JSON order object (the Kafka wire payload).
    path = os.path.join(dir_, name)
    with open(path + ".tmp", "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    os.rename(path + ".tmp", path)


def _order(order_id: str, ts: str, amount: float = 100.0) -> dict:
    return {
        "order_id": order_id,
        "user_id": "user_1",
        "category": "Electronics",
        "location": "US",
        "total_amount": amount,
        "timestamp": ts,
        "event_type": "order",
        "is_fraud_simulation": False,
    }


def test_watermark_drops_late_rows_in_append_mode(spark):
    """Rows arriving > 30 s behind the watermark must be excluded from
    finalized windows (reference semantics: withWatermark 30s + append,
    ecommerce_streaming.py:63,115). Two micro-batches: batch 2 advances
    event time by 10 minutes, then batch 3 replays a very late row —
    its window is already finalized, so order_count for w1 stays 2."""
    src = tempfile.mkdtemp(prefix="late_data_")
    # JSON text stream, one file per micro-batch (modification order).
    _write_wire_file(
        src,
        "b1.json",
        [
            _order("o1", "2024-01-01 10:00:05"),
            _order("o2", "2024-01-01 10:00:20"),
        ],
    )
    raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark="30 seconds")
    agg = (
        parsed.groupBy(F.window("event_timestamp", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("order_count"))
        .select(F.col("w.start").alias("window_start"), "order_count")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(agg, name, output_mode="append")
    try:
        q.processAllAvailable()
        # advance event time far past w1's end + watermark → finalizes w1
        _write_wire_file(src, "b2.json", [_order("o3", "2024-01-01 10:10:00")])
        q.processAllAvailable()
        # a very late row for w1 — must be dropped, not re-emitted
        _write_wire_file(src, "b3.json", [_order("o4", "2024-01-01 10:00:40")])
        q.processAllAvailable()
        # one more advance so anything pending would flush
        _write_wire_file(src, "b4.json", [_order("o5", "2024-01-01 10:20:00")])
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        r["window_start"].isoformat(): r["order_count"]
        for r in spark.table(name).collect()
    }
    assert out.get("2024-01-01T10:00:00") == 2, (
        f"late row leaked into finalized window: {out}"
    )


def test_malformed_rows_dropped_by_parse_and_clean(spark):
    src = tempfile.mkdtemp(prefix="malformed_")
    rows = [
        _order("good", "2024-01-01 10:00:05"),
        _order("bad_ts", "definitely-not-a-timestamp"),
    ]
    _write_wire_file(src, "b1.json", rows)
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write("this is not json at all\n")
    raw = spark.readStream.text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    name = f"mal_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(parsed, name, output_mode="append")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name).select("order_id").collect()
    assert [r["order_id"] for r in got] == ["good"]


def test_wire_format_golden_reference_producer_drift(spark):
    """Golden replay of the reference PRODUCER's actual wire shape
    (ecommerce_data_producer.py:59-69), which DRIFTS from the consumer
    schema (ecommerce_streaming.py:23-36): the producer emits
    ``customer_id`` and ``region`` that the schema lacks (silently
    dropped) and omits ``user_id``/``category``/``location``/
    ``event_type``/``is_fraud_simulation`` that the schema declares
    (null-filled). Asserts the exact null-fill/drop-extra semantics on
    the true payload shape, end to end through parse_and_clean."""
    src = tempfile.mkdtemp(prefix="wire_golden_")
    # field-for-field the reference producer's generate_order() output
    producer_payload = {
        "order_id": "11111111-2222-3333-4444-555555555555",
        "customer_id": "CUST_1234",
        "product_id": "P001",
        "product_name": "Laptop",
        "quantity": 3,
        "price": 999.99,
        "total_amount": 2999.97,
        "timestamp": "2024-01-01T10:00:05.123456",
        "region": "US-East",
    }
    _write_wire_file(src, "b1.json", [producer_payload])
    raw = spark.readStream.text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    name = f"golden_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(parsed, name, output_mode="append")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    # drift extras are DROPPED, not surfaced
    assert "customer_id" not in out.columns
    assert "region" not in out.columns
    [r] = out.collect()
    # declared-but-absent fields are NULL-filled
    assert r["user_id"] is None
    assert r["category"] is None
    assert r["location"] is None
    assert r["event_type"] is None
    assert r["is_fraud_simulation"] is None
    # present fields parse with their declared types
    assert r["order_id"] == "11111111-2222-3333-4444-555555555555"
    assert r["product_id"] == "P001"
    assert r["product_name"] == "Laptop"
    assert r["quantity"] == 3
    assert r["price"] == 999.99
    assert r["total_amount"] == 2999.97
    # ISO-8601 'T' separator (datetime.now().isoformat()) parses
    assert r["event_timestamp"] is not None
    assert r["event_timestamp"].year == 2024


def test_synthesize_orders_matches_reference_derivations(spark):
    """The rate-source derivation transform, checked in batch (it is
    stream-agnostic by construction)."""
    base = spark.range(0, 20).select(
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("timestamp"),
        F.col("id").alias("value"),
    )
    rows = {r["value"]: r for r in synthesize_orders(base).collect()}
    assert rows[0]["category"] == "Electronics"
    assert rows[1]["category"] == "Clothing"
    assert rows[4]["product_name"] == "MacBook Pro"
    assert rows[3]["location"] == "US"
    assert rows[10]["is_fraud_simulation"] is True
    assert rows[7]["total_amount"] == 57.0
    assert rows[13]["order_id"] == "order_13"
    assert rows[13]["user_id"] == "user_13"


def test_rate_source_stream_runs(spark):
    """The live rate source itself: a few rows must flow end-to-end."""
    from kafka_spark_streaming_app_spark.sources.streams import read_rate_orders

    orders = read_rate_orders(spark, rows_per_second=50)
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(orders, name, output_mode="append")
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        assert spark.table(name).count() > 0
    finally:
        q.stop()


def test_foreach_batch_parquet_sink(spark, sf_smoke):
    src = tempfile.mkdtemp(prefix="fb_src_")
    out = tempfile.mkdtemp(prefix="fb_out_")
    ckpt = tempfile.mkdtemp(prefix="fb_ckpt_")
    _write_wire_file(src, "b1.json", [_order("o1", "2024-01-01 10:00:05")])
    _write_wire_file(src, "b2.json", [_order("o2", "2024-01-01 10:00:06")])
    raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None).drop(
        "processing_time"
    )
    q = foreach_batch_parquet(parsed, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    result = spark.read.parquet(out)
    assert sorted(r["order_id"] for r in result.collect()) == ["o1", "o2"]
    assert "_batch_id" in result.columns


def test_multi_sink_fan_out(spark):
    """One parsed stream feeding two concurrent sinks (reference
    main(): agg→parquet + alerts→kafka + agg→console concurrently)."""
    src = tempfile.mkdtemp(prefix="fan_src_")
    _write_wire_file(
        src,
        "b1.json",
        [_order("o1", "2024-01-01 10:00:05", amount=2000.0),
         _order("o2", "2024-01-01 10:00:06", amount=10.0)],
    )
    raw = spark.readStream.text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    n1 = f"fan_a_{uuid.uuid4().hex[:8]}"
    n2 = f"fan_b_{uuid.uuid4().hex[:8]}"
    q1 = write_memory_stream(parsed.select("order_id"), n1)
    q2 = write_memory_stream(
        parsed.filter(F.col("total_amount") > 1000).select("order_id"), n2
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()
    assert spark.table(n1).count() == 2
    assert spark.table(n2).count() == 1


def test_kafka_source_unavailable_raises_clean_error(spark):
    """pip pyspark has no kafka connector jar: the wrapper must raise
    an actionable error, not a raw Py4J stack."""
    from kafka_spark_streaming_app_spark.sources.streams import read_kafka_stream

    try:
        df = read_kafka_stream(spark, "localhost:9092", "test-topic")
    except RuntimeError as exc:
        assert "spark-sql-kafka" in str(exc)
    else:
        # connector present: schema must be the kafka wire schema
        assert "value" in df.columns and "offset" in df.columns


def test_observe_metrics_reported_per_batch(spark):
    """Dataset.observe metrics must appear in the streaming progress
    events (the engine's structured replacement for console-sink
    monitoring)."""
    import json as _json
    import tempfile as _tempfile

    from kafka_spark_streaming_app_spark.streaming.metrics import (
        with_throughput_metrics,
    )

    src = _tempfile.mkdtemp(prefix="obs_src_")
    _write_wire_file(
        src,
        "b1.json",
        [_order("o1", "2024-01-01 10:00:05", amount=100.0),
         _order("o2", "2024-01-01 10:00:06", amount=50.0)],
    )
    raw = spark.readStream.text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None)
    observed = with_throughput_metrics(parsed)
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(observed, name)
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    metrics = progress["observedMetrics"]["engine_metrics"]
    assert metrics["n_rows"] == 2
    assert metrics["amount_total"] == 150.0
    assert metrics["n_null_amount"] == 0


def test_dedup_within_watermark_collapses_cross_batch_duplicates(spark):
    """dropDuplicatesWithinWatermark must collapse duplicates arriving
    in the SAME micro-batch and in a LATER micro-batch while the key's
    state is still within the watermark delay (the at-least-once
    replay shape behind streaming_dedup_within_watermark)."""
    src = tempfile.mkdtemp(prefix="dedup_wm_")
    _write_wire_file(
        src,
        "b1.json",
        [
            _order("o1", "2024-01-01 10:00:05"),
            _order("o1", "2024-01-01 10:00:05"),  # in-batch duplicate
            _order("o2", "2024-01-01 10:00:10"),
        ],
    )
    raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
    parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark="30 seconds")
    deduped = parsed.dropDuplicatesWithinWatermark(["order_id"]).select(
        "order_id", "event_timestamp"
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = write_memory_stream(deduped, name, output_mode="append")
    try:
        q.processAllAvailable()
        # o2 replayed one batch later, still inside the 30 s delay
        _write_wire_file(
            src,
            "b2.json",
            [
                _order("o2", "2024-01-01 10:00:10"),
                _order("o3", "2024-01-01 10:00:20"),
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = [r["order_id"] for r in spark.table(name).collect()]
    assert sorted(got) == ["o1", "o2", "o3"], f"duplicates leaked: {got}"


def test_foreach_batch_incremental_rollup_equals_batch(spark):
    """Continuous-aggregate maintenance through the streaming engine:
    each micro-batch's partial (hour, type) aggregates are merged into
    a persistent rollup table by re-aggregation (counts add, decimal
    partial sums add exactly). After draining, the maintained rollup
    must equal the from-scratch batch rollup — the streaming face of
    the `incremental_rollup_merge` oracle property. (A lakehouse
    deployment would MERGE INTO instead of overwrite-after-barrier;
    the merge arithmetic is identical.)"""
    import json as _json
    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="roll_src_")
    out = os.path.join(tempfile.mkdtemp(prefix="roll_out_"), "rollup")
    ckpt = tempfile.mkdtemp(prefix="roll_ckpt_")
    rows1 = [
        {"ts": "2024-01-01 10:05:00", "event_type": "view", "value": 1.5},
        {"ts": "2024-01-01 10:55:00", "event_type": "view", "value": 2.5},
        {"ts": "2024-01-01 11:05:00", "event_type": "click", "value": 4.0},
    ]
    rows2 = [
        {"ts": "2024-01-01 11:20:00", "event_type": "click", "value": 8.0},
        {"ts": "2024-01-01 11:40:00", "event_type": "view", "value": 16.0},
        {"ts": "2024-01-01 12:10:00", "event_type": "view", "value": 32.0},
    ]
    for name, rows in (("b1.json", rows1), ("b2.json", rows2)):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )

    def merge_rollup(batch_df, batch_id):
        part = batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)")).alias("psum"),
        )
        try:
            existing = batch_df.sparkSession.read.parquet(out)
        except Exception:
            existing = None
        merged = (
            part if existing is None else existing.unionByName(part)
        ).groupBy("hour", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("psum").cast("decimal(25,4)").alias("psum"),
        )
        # barrier before overwriting the directory the plan reads from
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            out
        )

    q = (
        stream.writeStream.foreachBatch(merge_rollup)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()

    maintained = {
        (r["hour"], r["event_type"]): (r["n_events"], r["psum"])
        for r in spark.read.parquet(out).collect()
    }
    batch = (
        spark.read.schema(schema)
        .json(src)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,4)")).alias("psum"),
        )
    )
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["psum"])
        for r in batch.collect()
    }
    assert maintained == want
    assert len(want) == 4  # 10h/view, 11h/click, 11h/view, 12h/view


def test_timeout_sessions_emits_both_close_paths(spark, sf_smoke):
    """Non-vacuity for the event-time-timeout sessionizer: the replay
    must exercise BOTH close paths (successor-closed mid-stream AND
    watermark-timeout at the tail) and never emit an open session."""
    from kafka_spark_streaming_app_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["streaming_timeout_sessions"](spark, sf_smoke)
    counts = out.groupBy("closed_by").count().collect()
    got = {r["closed_by"]: r["count"] for r in counts}
    assert got.get("successor", 0) > 0, "no successor-closed sessions"
    assert got.get("timeout", 0) > 0, "no watermark-timeout sessions"
    # every emitted session is provably closed: last + gap is either
    # below the final watermark (timeout) or a successor existed
    assert set(got) == {"successor", "timeout"}


def test_streaming_funnel_matches_batch_and_is_order_monotone(
    spark, sf_smoke
):
    """streaming_funnel_rollup equals the batch funnel computed with
    pandas on the raw events (streaming/batch duality through the
    state table), and the per-stage mins make conversion monotone:
    replaying the SAME wire twice (idempotent min-merge) cannot change
    any count."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    ev = ev[ev["user_id"].notna()]
    mins = (
        ev.pivot_table(
            index="user_id",
            columns="event_type",
            values="ts",
            aggfunc="min",
        )
        .reindex(columns=["view", "click", "purchase"])
    )
    n_view = int(mins["view"].notna().sum())
    vc = mins["view"] < mins["click"]
    n_view_click = int(vc.sum())
    n_full = int((vc & (mins["click"] < mins["purchase"])).sum())

    row = registry.QUERIES["streaming_funnel_rollup"](
        spark, sf_smoke
    ).collect()[0]
    assert (row.n_view, row.n_view_click, row.n_full_funnel) == (
        n_view,
        n_view_click,
        n_full,
    )


def test_streaming_ivm_agg_matches_pandas_latest_wins(spark, sf_smoke):
    """streaming_ivm_agg's retraction-maintained view equals the
    latest-wins aggregate recomputed with pandas from the raw change
    feed — the IVM delta algebra never drifts from the batch truth."""
    import pandas as pd

    from kafka_spark_streaming_app_spark import registry

    registry.load_all()
    orders = pd.read_parquet(f"{sf_smoke}/orders.parquet")
    cust = pd.read_parquet(f"{sf_smoke}/customer.parquet")
    ch = orders[orders["o_orderkey"] % 3 == 0].copy()
    ch["c_custkey"] = ch["o_custkey"] + (
        ch["o_orderkey"] % 23 == 0
    ).astype(int) * 1000000
    ch["seq"] = ch["o_orderkey"]
    ch["op"] = (ch["o_orderkey"] % 19 == 0).map({True: "D", False: "U"})
    latest = (
        ch.sort_values("seq")
        .groupby("c_custkey")
        .tail(1)
    )
    live = latest[latest["op"] == "U"].copy()
    live["cents"] = (live["o_totalprice"] * 100).round().astype(int)
    seg = live.merge(
        cust[["c_custkey", "c_mktsegment"]], on="c_custkey", how="left"
    )
    seg["segment"] = seg["c_mktsegment"].fillna("NEW")
    expected = {
        s: (len(g), round(g["cents"].sum() / 100.0, 2))
        for s, g in seg.groupby("segment")
    }

    got = {
        r.segment: (r.n_live, r.sum_bal)
        for r in registry.QUERIES["streaming_ivm_agg"](
            spark, sf_smoke
        ).collect()
    }
    assert got == expected


def _one_file_stream(spark, dir_):
    with open(os.path.join(dir_, "b0.json"), "w") as f:
        f.write(json.dumps({"k": 1}) + "\n")
    return spark.readStream.schema("k long").json(str(dir_))


def test_run_available_now_raises_batch_errors_and_stops(spark, tmp_path):
    """An error inside on_batch comes out of the availableNow driver,
    and no query is left running."""
    from kafka_spark_streaming_app_spark.queries.streaming import (
        _run_available_now,
    )

    def on_batch(batch_df, batch_id):
        raise ValueError("boom in on_batch")

    before = {q.id for q in spark.streams.active}
    with pytest.raises(Exception, match="boom in on_batch"):
        _run_available_now(_one_file_stream(spark, tmp_path), on_batch, "t")
    assert {q.id for q in spark.streams.active} == before


def test_run_available_now_refuses_an_unfinished_run(
    spark, tmp_path, monkeypatch
):
    """A run still going at the timeout raises instead of returning
    (its state would be partial), and the query is stopped."""
    from kafka_spark_streaming_app_spark.queries import streaming

    monkeypatch.setattr(streaming, "_AVAILABLE_NOW_TIMEOUT_S", 0.2)
    before = {q.id for q in spark.streams.active}
    with pytest.raises(RuntimeError, match="t: availableNow run did not finish"):
        streaming._run_available_now(
            _one_file_stream(spark, tmp_path), lambda df, i: time.sleep(2), "t"
        )
    assert {q.id for q in spark.streams.active} == before


def test_shuffle_partitions_restores_width_when_body_raises(spark):
    from kafka_spark_streaming_app_spark.session import shuffle_partitions

    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    with pytest.raises(RuntimeError):
        with shuffle_partitions(spark, 3):
            assert spark.conf.get(conf) == "3"
            raise RuntimeError("body failed")
    assert spark.conf.get(conf) == prev
    with shuffle_partitions(spark, None):
        assert spark.conf.get(conf) == prev


def test_memo_dir_reuses_rebuilds_and_never_remembers_a_failed_build(spark):
    import shutil

    from kafka_spark_streaming_app_spark.queries.feeds import memo_dir

    built, failed = [], []

    def build(d):
        built.append(d)

    def fail(d):
        failed.append(d)
        raise ValueError("build failed")

    kind = f"memo_test_{uuid.uuid4().hex[:8]}"
    first = memo_dir(spark, "sf", kind, build)
    assert memo_dir(spark, "sf", kind, build) == first
    assert built == [first]
    shutil.rmtree(first)
    again = memo_dir(spark, "sf", kind, build)
    assert again != first and built == [first, again]

    with pytest.raises(ValueError):
        memo_dir(spark, "sf", kind + "_bad", fail)
    fresh = memo_dir(spark, "sf", kind + "_bad", build)
    assert fresh not in failed and built[-1] == fresh

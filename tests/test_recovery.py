"""Checkpoint recovery (exactly-once) and approximate-sketch accuracy."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_app_spark.operators.windowed import windowed_aggregation
from kafka_spark_streaming_app_spark.schemas import ORDER_SCHEMA
from kafka_spark_streaming_app_spark.session import CHECKPOINT_FILE_MANAGER
from kafka_spark_streaming_app_spark.sources.batch import load_table
from kafka_spark_streaming_app_spark.streaming.pipeline import parse_and_clean


def _write_orders(dir_: str, name: str, ids: list[str]) -> None:
    path = os.path.join(dir_, name)
    with open(path + ".tmp", "w") as f:
        for oid in ids:
            f.write(
                json.dumps(
                    {
                        "order_id": oid,
                        "user_id": "u1",
                        "total_amount": 10.0,
                        "timestamp": "2024-01-01 10:00:00",
                    }
                )
                + "\n"
            )
    os.rename(path + ".tmp", path)


def test_checkpoint_recovery_is_exactly_once(spark):
    """Stop a checkpointed query, add data, restart from the same
    checkpoint: already-processed files must not be re-emitted and new
    files must be picked up — the exactly-once file-sink contract the
    reference relies on (checkpointLocation, ecommerce_streaming.py:114)."""
    src = tempfile.mkdtemp(prefix="rec_src_")
    out = tempfile.mkdtemp(prefix="rec_out_")
    ckpt = tempfile.mkdtemp(prefix="rec_ckpt_")

    def start_query():
        raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
        parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark=None).select(
            "order_id", "total_amount"
        )
        return (
            parsed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    _write_orders(src, "b1.json", ["o1", "o2"])
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # data arrives while the query is DOWN
    _write_orders(src, "b2.json", ["o3"])

    q2 = start_query()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = sorted(
        r["order_id"] for r in spark.read.parquet(out).collect()
    )
    assert got == ["o1", "o2", "o3"], f"recovery broke exactly-once: {got}"


def test_approx_count_distinct_accuracy(spark, sf_correctness):
    """The HLL++ production twin must track exact distinct within its
    documented ~5% relative standard deviation (SURVEY.md §2.5 A4)."""
    events = load_table(spark, sf_correctness, "events")
    row = events.agg(
        F.approx_count_distinct("user_id").alias("approx"),
        F.count_distinct("user_id").alias("exact"),
    ).collect()[0]
    rel_err = abs(row["approx"] - row["exact"]) / row["exact"]
    assert rel_err < 0.15, f"HLL estimate off by {rel_err:.1%}"


def test_percentile_approx_tracks_exact(spark, sf_correctness):
    """percentile_approx (the 100 TB path) must bracket the exact
    percentile closely at high accuracy settings."""
    o = load_table(spark, sf_correctness, "orders")
    row = o.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
        F.percentile("o_totalprice", 0.5).alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01


def test_stateful_windowed_agg_recovers_state(spark):
    """Windowed-aggregation STATE must survive a restart: rows ingested
    before the stop and rows after must land in the same finalized
    window exactly once."""
    src = tempfile.mkdtemp(prefix="recw_src_")
    out = tempfile.mkdtemp(prefix="recw_out_")
    ckpt = tempfile.mkdtemp(prefix="recw_ckpt_")

    def start_query():
        raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
        parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark="30 seconds")
        agg = (
            parsed.groupBy(F.window("event_timestamp", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        return (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # two rows in window 10:00
    _write_orders(src, "b1.json", ["o1", "o2"])
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # third row in the SAME window arrives while the query is down,
    # plus a watermark-advancing row that finalizes the window
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(
            json.dumps(
                {"order_id": "o3", "user_id": "u1", "total_amount": 10.0,
                 "timestamp": "2024-01-01 10:00:40"}
            )
            + "\n"
        )
    with open(os.path.join(src, "b3.json"), "w") as f:
        f.write(
            json.dumps(
                {"order_id": "closer", "user_id": "u1", "total_amount": 10.0,
                 "timestamp": "2024-01-01 10:30:00"}
            )
            + "\n"
        )
    q2 = start_query()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = {
        r["window_start"].isoformat(): r["n"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows.get("2024-01-01T10:00:00") == 3, (
        f"window state not recovered across restart: {rows}"
    )


def test_windowed_agg_on_rocksdb_state_store(spark):
    """The production state store: the windowed aggregation must run
    (and produce identical results) on RocksDBStateStoreProvider —
    the store a real cluster uses for 100 GB+ of streaming state —
    not just the default HDFS-backed in-memory one."""
    import uuid

    from kafka_spark_streaming_app_spark.operators.windowed import (
        windowed_aggregation,
    )
    from kafka_spark_streaming_app_spark.streaming.pipeline import (
        write_memory_stream,
    )

    src = tempfile.mkdtemp(prefix="rocks_src_")
    _write_orders(src, "b1.json", [f"o{i}" for i in range(10)])
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        raw = spark.readStream.text(src)
        parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark="30 seconds")
        agg = windowed_aggregation(
            parsed,
            ts_col="event_timestamp",
            keys=("category",),
            amount_col="total_amount",
        )
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = write_memory_stream(agg, name, output_mode="complete")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.table(name).collect()
    finally:
        if old:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert sum(r["order_count"] for r in rows) == 20  # 10 orders x 2 windows
    assert all(abs(r["total_revenue"] - 100.0) < 1e-9 for r in rows)


CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)


def _checkpoint_manager(spark, uri: str):
    """The manager Spark's checkpoint logs would use for ``uri`` under the
    session's current confs."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(uri), spark._jsparkSession.sessionState().newHadoopConf()
    )


def test_local_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Local sessions write checkpoints through the FileSystem-based manager
    (see session.py), and its atomic create still refuses to replace an
    existing file: an offsets or commit log entry is written once."""
    mgr = _checkpoint_manager(spark, tmp_path.as_uri())
    assert mgr.getClass().getName() == CHECKPOINT_FILE_MANAGER
    target = spark._jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())
    first = mgr.createAtomic(target, False)
    first.write(bytearray(b"batch 0"))
    first.close()
    second = mgr.createAtomic(target, False)
    second.write(bytearray(b"batch 0, rewritten"))
    with pytest.raises(Exception, match="already exists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"batch 0"


def _write_events(dir_: str, name: str, rows: list[tuple], mtime: float) -> None:
    """One JSON-lines file of ``(order_id, category, user_id, amount, ts)``
    rows; ``mtime`` fixes the order the file source reads files in."""
    path = os.path.join(dir_, name)
    with open(path + ".tmp", "w") as f:
        for oid, cat, user, amount, ts in rows:
            f.write(json.dumps({"order_id": oid, "category": cat, "user_id": user,
                                "total_amount": amount, "timestamp": f"2024-01-01 {ts}"}) + "\n")
    os.utime(path + ".tmp", (mtime, mtime))
    os.rename(path + ".tmp", path)


def test_checkpoint_from_file_context_manager_resumes(spark):
    """A checkpoint written under Spark's default FileContext manager resumes
    under the FileSystem one that local sessions now use, as a deployed
    app.py would on upgrade: the windowed aggregate's sink equals one
    uninterrupted run, with no window lost or emitted twice."""
    first_files = [
        ("f1.json", [("o1", "a", "u1", 10.0, "10:00:10"), ("o2", "b", "u2", 20.0, "10:00:20")]),
        # advances the watermark to 10:01:10, so the 10:00 windows close in the first run
        ("f2.json", [("o3", "a", "u3", 5.0, "10:01:40")]),
    ]
    later_files = [
        # o4 joins o3's open windows from the restored state; o5 is older
        # than the late-row watermark in both runs, so both drop it
        ("f3.json", [("o4", "a", "u1", 7.0, "10:01:50"), ("o5", "b", "u2", 1.0, "09:58:00")]),
        ("f4.json", [("closer", "c", "u9", 1.0, "10:30:00")]),
    ]
    t0 = 1_700_000_000

    def start_query(src, out, ckpt):
        raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
        parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark="30 seconds")
        agg = windowed_aggregation(parsed, ts_col="event_timestamp", keys=("category",),
                                   amount_col="total_amount")
        return (agg.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).outputMode("append").start())

    def run(src, out, ckpt):
        q = start_query(src, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def sink(out):
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    src, out, ckpt = (tempfile.mkdtemp(prefix=f"ckmgr_{p}_") for p in ("src", "out", "ckpt"))
    for i, (name, rows) in enumerate(first_files):
        _write_events(src, name, rows, t0 + i)
    session_manager = spark.conf.get(CKPT_MANAGER)
    assert session_manager == CHECKPOINT_FILE_MANAGER
    spark.conf.set(CKPT_MANAGER, FILE_CONTEXT_MANAGER)
    try:
        assert _checkpoint_manager(spark, ckpt).getClass().getName() == FILE_CONTEXT_MANAGER
        run(src, out, ckpt)
    finally:
        # unsetting would fall back to Spark's default, the FileContext
        # manager; restore the value the session was built with instead
        spark.conf.set(CKPT_MANAGER, session_manager)
    emitted_first = sink(out)
    assert {(r[0].isoformat(), r[2]) for r in emitted_first} == {
        ("2024-01-01T09:59:30", "a"), ("2024-01-01T09:59:30", "b"),
        ("2024-01-01T10:00:00", "a"), ("2024-01-01T10:00:00", "b"),
    }

    for i, (name, rows) in enumerate(later_files, start=len(first_files)):
        _write_events(src, name, rows, t0 + i)
    assert _checkpoint_manager(spark, ckpt).getClass().getName() == CHECKPOINT_FILE_MANAGER
    run(src, out, ckpt)
    resumed = sink(out)

    whole_src, whole_out, whole_ckpt = (
        tempfile.mkdtemp(prefix=f"ckmgr_whole_{p}_") for p in ("src", "out", "ckpt")
    )
    for i, (name, rows) in enumerate(first_files + later_files):
        _write_events(whole_src, name, rows, t0 + i)
    run(whole_src, whole_out, whole_ckpt)

    assert resumed == sink(whole_out)
    keys = [(r[0], r[2]) for r in resumed]
    assert len(keys) == len(set(keys)), f"a window was emitted twice: {resumed}"
    counts = {(r[0].isoformat(), r[2]): r[3] for r in resumed}
    # o3 (first run) and o4 (second run) meet in the restored state
    assert counts[("2024-01-01T10:01:00", "a")] == 2
    assert counts[("2024-01-01T10:01:30", "a")] == 2


def test_hll_plus_plus_checkpoint_fails_loudly_on_restart(spark, monkeypatch):
    """The windowed aggregate's distinct count moved from HLL++
    (``approx_count_distinct``) to the DataSketches sketch, which changes
    the aggregate's state schema. A checkpoint written with the old
    expression must fail the restarted query at its first batch (Spark's
    state-schema check), not resume on unreadable state: app.py users
    discard ``checkpoints/aggregations`` when upgrading."""
    from pyspark.errors import StreamingQueryException

    from kafka_spark_streaming_app_spark.operators import windowed

    src, out, ckpt = (tempfile.mkdtemp(prefix=f"hllck_{p}_") for p in ("src", "out", "ckpt"))
    t0 = 1_700_000_000

    def start_query():
        raw = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
        parsed = parse_and_clean(raw, ORDER_SCHEMA, watermark="30 seconds")
        agg = windowed.windowed_aggregation(
            parsed, ts_col="event_timestamp", keys=("category",), amount_col="total_amount"
        )
        return (agg.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).outputMode("append").start())

    _write_events(src, "f1.json", [("o1", "a", "u1", 10.0, "10:00:10")], t0)
    with monkeypatch.context() as m:
        m.setattr(windowed, "approx_distinct", F.approx_count_distinct)
        q = start_query()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # the data batch and the no-data batch its watermark advance runs
    last = q.lastProgress["batchId"]
    assert os.path.exists(os.path.join(ckpt, "commits", str(last)))

    _write_events(src, "f2.json", [("o2", "a", "u2", 5.0, "10:05:00")], t0 + 1)
    q = start_query()
    try:
        with pytest.raises(StreamingQueryException, match="STATE_STORE_.*SCHEMA"):
            q.processAllAvailable()
    finally:
        q.stop()
    # the restarted query committed nothing: f2's watermark would close
    # both of o1's windows, yet none was emitted from the old state
    assert not os.path.exists(os.path.join(ckpt, "commits", str(last + 1)))
    assert spark.read.parquet(out).count() == 0

"""End-to-end test of app.py: file source → 3 concurrent sinks, with
historical timestamps so append-mode windows finalize within the run."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_app_file_source_end_to_end(app_env):
    src = tempfile.mkdtemp(prefix="app_src_")
    out = tempfile.mkdtemp(prefix="app_out_")
    rows = []
    # two minutes of orders at 2024-01-01, one high-value + one flagged
    for i in range(40):
        rows.append(
            {
                "order_id": f"order_{i}",
                "user_id": f"user_{i % 7}",
                "category": "Electronics" if i % 4 == 0 else "Clothing",
                "location": "US" if i % 3 == 0 else "UK",
                "price": 100.0,
                "quantity": 1,
                "total_amount": 2000.0 if i == 5 else 100.0 + i,
                "timestamp": f"2024-01-01 10:{i // 20:02d}:{(i * 3) % 60:02d}",
                "event_type": "order",
                "is_fraud_simulation": i == 11,
            }
        )
    # a final far-future row advances the watermark past every window
    rows.append({**rows[0], "order_id": "closer", "timestamp": "2024-01-01 11:00:00"})
    with open(os.path.join(src, "orders.json"), "w") as f:
        for r in rows[:-1]:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(src, "zz_closer.json"), "w") as f:
        f.write(json.dumps(rows[-1]) + "\n")

    import duckdb
    import glob

    # the run length is wall-clock-sensitive (JVM startup + trigger
    # cadence); on a noisy host 35 s can end before the finalizing
    # micro-batch fires, so retry once with a longer window
    aggs = []
    for duration in ("35", "90"):
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "app.py"),
                "--source", "file",
                "--input-dir", src,
                "--output-dir", out,
                "--duration", duration,
            ],
            capture_output=True,
            text=True,
            env=app_env,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        if glob.glob(f"{out}/windowed-aggregations/*.parquet"):
            aggs = duckdb.sql(
                f"SELECT * FROM '{out}/windowed-aggregations/*.parquet'"
            ).fetchall()
            if aggs:
                break
    assert len(aggs) > 0, "no finalized windowed aggregates written"
    alerts = duckdb.sql(
        f"SELECT order_id, alert_type FROM '{out}/alerts/*.parquet'"
    ).fetchall()
    got = dict(alerts)
    assert got.get("order_5") == "HIGH_VALUE_ORDER"
    assert got.get("order_11") == "FRAUD_SIMULATION"


def _engine_alerts(bootstrap: str, topic: str) -> list[dict]:
    """The alerts app.py's alert sink produced to ``topic``. The demo
    producer mirrors its high-value orders onto the same topic, without
    the ``alert_timestamp`` the engine adds."""
    from kafka_spark_streaming_app_spark.sources.minikafka import MiniKafkaClient

    alerts = []
    with MiniKafkaClient(bootstrap) as c:
        for pid in c.metadata([topic])["topics"][topic]:
            end = c.offsets(topic, pid, -1)
            for _, _, value in c.fetch_range(topic, pid, 0, end):
                alert = json.loads(value)
                if "alert_timestamp" in alert:
                    alerts.append(alert)
    return alerts


def test_app_minikafka_source_end_to_end(app_env):
    """The reference's FULL live topology with zero installation:
    in-process wire-protocol broker, trickled producer waves, Kafka
    source -> windowed agg to parquet + alerts back to Kafka. The
    broker lives in the app's process, so the test reads the alert
    topic while the app runs. The run is wall-clock-sensitive, so
    retry once with a longer window."""
    import glob
    import re
    import time

    import duckdb

    # 30 s suffices for the 4 producer waves + window finalization
    # (verified: 150 orders aggregated at --duration 30); the 90 s
    # retry absorbs a loaded-machine flake
    for duration in ("30", "90"):
        out = tempfile.mkdtemp(prefix="app_mk_out_")
        stdout_path, stderr_path = f"{out}.stdout", f"{out}.stderr"
        alerts: list[dict] = []
        with open(stdout_path, "w") as stdout, open(stderr_path, "w") as stderr:
            proc = subprocess.Popen(
                [
                    sys.executable,
                    os.path.join(REPO, "app.py"),
                    "--source", "minikafka",
                    "--start-broker",
                    "--seed-orders", "200",
                    "--output-dir", out,
                    "--duration", duration,
                ],
                stdout=stdout,
                stderr=stderr,
                env={**app_env, "PYTHONUNBUFFERED": "1"},
            )
            deadline = time.monotonic() + int(duration) + 120
            try:
                while proc.poll() is None and time.monotonic() < deadline:
                    time.sleep(1)
                    with open(stdout_path) as f:
                        m = re.search(r"in-process broker at (\S+)", f.read())
                    if m:
                        try:
                            alerts = _engine_alerts(m.group(1), "ecommerce-alerts") or alerts
                        except (OSError, KeyError):
                            pass  # broker not serving yet, or shut down
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        with open(stderr_path) as f:
            assert proc.returncode == 0, f.read()[-2000:]
        with open(stdout_path) as f:
            assert "in-process broker at 127.0.0.1:" in f.read()
        aggs = None
        if glob.glob(f"{out}/windowed-aggregations/*.parquet"):
            aggs = duckdb.sql(
                f"SELECT sum(order_count) FROM "
                f"'{out}/windowed-aggregations/*.parquet'"
            ).fetchone()
        if aggs and aggs[0] and alerts:
            break
    assert aggs and aggs[0] > 0, "no finalized windowed aggregates"
    assert alerts, "no engine alert reached the alert topic"
    assert {a["alert_type"] for a in alerts} <= {
        "HIGH_VALUE_ORDER", "SUSPICIOUS_LOCATION", "FRAUD_SIMULATION",
    }
    order_ids = [a["order_id"] for a in alerts]
    assert len(order_ids) == len(set(order_ids)), "an alert was produced twice"

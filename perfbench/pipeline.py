"""``orders_pipeline``: the reference job, wired from the engine's
public functions as ``app.py`` wires it.

    minikafka source (maxOffsetsPerTrigger = wave size)
      -> parse_and_clean (30 s watermark)
      ├─ windowed_aggregation (1 min / 30 s) -> parquet sink
      └─ detect_fraud -> minikafka alert sink

The loop is closed: the benchmark sends one wave of orders through the
engine's wire client and sends the next only when both sinks have
committed everything the wave makes available, including the batch
that emits the windows the wave's watermark closes. Both queries run
with a zero-interval processing-time trigger, so a new micro-batch
starts as soon as data (or a watermark advance) is there; ``app.py``'s
fixed 5/10/30 s triggers would make the latency measure a sleep.
"""

from __future__ import annotations

import ast
import json
import os
import sys
import time
import zlib
from datetime import datetime

from . import orders as gen
from . import procs

ORDERS_TOPIC = "ecommerce-orders"
ALERTS_TOPIC = "ecommerce-alerts"
PARTITIONS = 4
WARMUP_WAVES = 1
WAVE_TIMEOUT_S = 90.0
POLL_S = 0.02


def _offset_total(progress: dict) -> int:
    end = progress["sources"][0].get("endOffset") or {}
    if isinstance(end, str):
        # Python data sources report their offset dict's repr
        end = ast.literal_eval(end)
    return sum(int(v) for v in end.values())


def _watermark(progress: dict) -> datetime | None:
    text = (progress.get("eventTime") or {}).get("watermark")
    if not text:
        return None
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fZ")


class OrdersPipeline:
    name = "orders_pipeline"
    # waves vary more than query rounds, and a wave is cheaper than a round
    min_rounds = 5

    def __init__(self, spark, work_dir: str, seed: int, tracer, wave_size: int = gen.WAVE_SIZE):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.wave_size = wave_size
        self.out_dir = os.path.join(work_dir, "pipeline")
        self.sent: list[dict] = []
        self.waves = 0
        self._next: list[dict] = []
        self._watermark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.broker = self.client = None
        self.queries: list = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from kafka_spark_streaming_app_spark.operators.alerts import detect_fraud
        from kafka_spark_streaming_app_spark.operators.windowed import windowed_aggregation
        from kafka_spark_streaming_app_spark.schemas import ORDER_SCHEMA
        from kafka_spark_streaming_app_spark.sources.minikafka import (
            MiniKafkaBroker,
            MiniKafkaClient,
        )
        from kafka_spark_streaming_app_spark.sources.minikafka_ds import register_minikafka
        from kafka_spark_streaming_app_spark.streaming.pipeline import (
            parse_and_clean,
            write_minikafka_stream,
            write_parquet_stream,
        )

        with self.tracer.span("setup.broker"):
            self.broker = MiniKafkaBroker()
            self.broker.create_topic(ORDERS_TOPIC, partitions=PARTITIONS)
            self.broker.create_topic(ALERTS_TOPIC, partitions=PARTITIONS)
            self.client = MiniKafkaClient(self.broker.bootstrap)
        with self.tracer.span("setup.streams"):
            register_minikafka(self.spark)
            raw = (
                self.spark.readStream.format("minikafka")
                .option("bootstrap", self.broker.bootstrap)
                .option("topic", ORDERS_TOPIC)
                .option("maxOffsetsPerTrigger", str(self.wave_size))
                .load()
            )
            orders = parse_and_clean(raw, ORDER_SCHEMA)
            aggregates = windowed_aggregation(
                orders,
                ts_col="event_timestamp",
                keys=("category", "location"),
                amount_col="total_amount",
                user_col="user_id",
                window_duration="1 minute",
                slide_duration="30 seconds",
            )
            alerts = detect_fraud(
                orders,
                select_cols=[
                    "order_id", "user_id", "product_name",
                    "total_amount", "location", "event_timestamp",
                ],
            ).withColumn("alert_timestamp", F.current_timestamp())
            self.sink_dir = os.path.join(self.out_dir, "windowed-aggregations")
            self.agg_query = write_parquet_stream(
                aggregates,
                path=self.sink_dir,
                checkpoint=os.path.join(self.out_dir, "checkpoints", "aggregations"),
                trigger_seconds=0,
            )
            self.alert_query = write_minikafka_stream(
                alerts,
                servers=self.broker.bootstrap,
                topic=ALERTS_TOPIC,
                checkpoint=os.path.join(self.out_dir, "checkpoints", "alerts"),
                trigger_seconds=0,
            )
            self.queries = [self.agg_query, self.alert_query]

    def _produce(self, wave: list[dict]) -> None:
        by_pid: dict[int, list] = {}
        for order in wave:
            key = order["order_id"].encode()
            by_pid.setdefault(zlib.crc32(key) % PARTITIONS, []).append(
                (key, json.dumps(order).encode())
            )
        for pid, msgs in sorted(by_pid.items()):
            self.client.produce(ORDERS_TOPIC, pid, msgs)

    def prepare_round(self) -> None:
        """Generate the next wave and the watermark it leads to, outside
        the timed region."""
        wave = gen.make_wave(self.seed, self.waves, self.wave_size)
        self.waves += 1
        self.sent.extend(wave)
        latest = gen.watermark_after(wave)
        if latest is not None and (self._watermark is None or latest > self._watermark):
            self._watermark = latest
        self._next = wave

    def _wave(self) -> dict[str, float]:
        """Send the prepared wave and wait for both sinks; returns each
        sink's commit latency in seconds."""
        wave, total, watermark = self._next, len(self.sent), self._watermark
        t0 = time.perf_counter()
        with self.tracer.span("sources.produce") as sp:
            self._produce(wave)
        sp.count("sources.produce_ms", sp.seconds * 1000)
        done: dict[str, float] = {}
        while len(done) < 2:
            for label, q in (("alerts", self.alert_query), ("aggregates", self.agg_query)):
                if label in done:
                    continue
                p = q.lastProgress
                if p is None or _offset_total(p) < total:
                    continue
                if label == "aggregates":
                    seen = _watermark(p)
                    if seen is None or seen < watermark:
                        continue
                done[label] = time.perf_counter() - t0
            if len(done) < 2:
                if time.perf_counter() - t0 > WAVE_TIMEOUT_S:
                    for q in self.queries:
                        if q.exception() is not None:
                            raise RuntimeError(f"streaming query failed: {q.exception()}")
                    raise TimeoutError(f"wave {self.waves - 1} not committed in {WAVE_TIMEOUT_S} s")
                time.sleep(POLL_S)
        return done

    def warmup(self) -> None:
        for _ in range(WARMUP_WAVES):
            self.prepare_round()
            with self.tracer.op("wave"):
                self._wave()
            self.attempted += 1

    def run_round(self) -> dict[str, float]:
        """One wave, timed until both sinks have committed it. The wave is
        the operation: each sink's own latency (kept in the trace) swings
        with how its trigger overlaps the other query's, so alone it
        repeats far worse than the wave does."""
        self.attempted += 1
        with self.tracer.op("wave") as op:
            before = procs.dir_usage(self.sink_dir) if self.tracer.enabled else (0, 0)
            done = self._wave()
            op.mark(exec_s=max(done.values()), **{f"{k}_s": v for k, v in done.items()})
        if self.tracer.enabled:
            # the file sink's writes carry no SQL write metrics; count them on disk
            after = procs.dir_usage(self.sink_dir)
            op.count("sinks.files_written", after[0] - before[0])
            op.count("sinks.bytes_written", after[1] - before[1])
        return {"wave": max(done.values())}

    def _sink_rows(self) -> list[dict]:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        table = ds.dataset(self.sink_dir, format="parquet").to_table()
        cols = {}
        for name in table.column_names:
            col = table[name]
            if name in ("window_start", "window_end"):
                col = pc.cast(col, "timestamp[us]") if col.type.tz is None else pc.cast(
                    col, "timestamp[us, tz=UTC]"
                )
                cols[name] = [None if v is None else v.replace(tzinfo=None) for v in col.to_pylist()]
            else:
                cols[name] = col.to_pylist()
        return [dict(zip(cols, vals)) for vals in zip(*cols.values())]

    def _alert_rows(self) -> list[dict]:
        rows = []
        for pid, end in enumerate(self.broker.end_offsets(ALERTS_TOPIC)):
            for _, _, value in self.client.fetch_range(ALERTS_TOPIC, pid, 0, end):
                rows.append(json.loads(value))
        return rows

    def finish(self) -> dict:
        """Compare both sinks with the plain-Python results over every
        order sent; any problem fails every wave of the run."""
        problems = gen.check_windows(self._sink_rows(), gen.watermark_after(self.sent), self.sent)
        problems += gen.check_alerts(self._alert_rows(), self.sent)
        if problems:
            self.failed = self.attempted
        return {"problems": problems[:20], "waves": self.waves, "orders": len(self.sent)}

    def close(self) -> None:
        for q in self.queries:
            try:
                q.stop()
            except Exception as exc:  # stopping must reach the broker shutdown below
                print(f"perfbench: stopping {q.name}: {exc!r}", file=sys.stderr)
        if self.client is not None:
            self.client.close()
        if self.broker is not None:
            self.broker.close()

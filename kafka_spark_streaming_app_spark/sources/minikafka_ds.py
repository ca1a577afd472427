"""Spark 4 Python DataSource over the from-scratch Kafka wire
protocol (sources/minikafka.py): ``spark.read.format("minikafka")``
/ ``readStream`` source and batch ``write`` sink, schema- and
option-compatible with the real ``kafka`` connector where the v0
protocol subset allows. Streams are produced through ``foreachBatch``
(``batch_producer``, used by ``streaming.pipeline.write_minikafka_stream``)
rather than a ``DataSourceStreamWriter``: a Python stream writer makes
Spark fork two driver-side Python runners per trigger (the write planner
and the commit runner), which cost more than the alert rows they carry.

Column parity with the jar-backed source (reference
`ecommerce_streaming.py:38-52` consumes exactly these): key binary,
value binary, topic string, partition int, offset long, timestamp,
timestampType. v0 messages carry no broker timestamp, so timestamp
is NULL and timestampType -1 (NO_TIMESTAMP_TYPE), which is the real
connector's value for magic-0 logs too.

Options: ``bootstrap`` (host:port), ``topic``, ``minPartitions``
(batch: split offset ranges finer than the topic's partition count),
``maxOffsetsPerTrigger`` (streaming rate limit — see
``_StreamReader``), ``recordFormat`` (v0|v2),
``compression.type`` (sink: none|gzip|snappy|lz4).

Scale posture: every Spark task speaks its own socket to the broker
and fetches exactly its own offset range (random access — no prefix
replay, no driver relay); both sinks produce from executor tasks. The
driver only ever moves OFFSETS (O(partitions) integers per trigger).
Producing is at-least-once under task retry (and, for streams, under a
restart that replays the batch the commit log had not recorded),
matching the real non-transactional Kafka sink; dedup downstream on a
message key.
"""

from __future__ import annotations

import zlib
from functools import partial
from typing import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from .minikafka import MiniKafkaClient

_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


class _OffsetRange(InputPartition):
    def __init__(self, bootstrap, topic, pid, start, end, fmt="v0"):
        self.bootstrap = bootstrap
        self.topic = topic
        self.pid = pid
        self.start = start
        self.end = end
        self.fmt = fmt


def _read_range(part: _OffsetRange) -> Iterator[tuple]:
    with MiniKafkaClient(part.bootstrap) as c:
        for off, k, v in c.fetch_range(
            part.topic, part.pid, part.start, part.end,
            fmt=getattr(part, "fmt", "v0"),
        ):
            yield (k, v, part.topic, part.pid, off, None, -1)


def _require(options: dict, key: str) -> str:
    v = options.get(key.lower()) or options.get(key)
    if not v:
        raise ValueError(f"minikafka requires the '{key}' option")
    return v


def _record_format(options: dict) -> str:
    """``recordFormat`` option: v0 (MessageSet, Fetch v0) or v2
    (RecordBatch, Fetch v4) — both decode to the same rows, proving
    both generations of the public format over the wire."""
    fmt = str(options.get("recordformat", "v0")).lower()
    if fmt not in ("v0", "v2"):
        raise ValueError(f"recordFormat={fmt!r}: v0|v2")
    return fmt


class _BatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.bootstrap = _require(options, "bootstrap")
        self.topic = _require(options, "topic")
        self.min_partitions = int(options.get("minpartitions", 0))
        self.fmt = _record_format(options)

    def partitions(self) -> list:
        with MiniKafkaClient(self.bootstrap) as c:
            pids = c.metadata([self.topic])["topics"][self.topic]
            ranges = [
                (p, c.offsets(self.topic, p, -2),
                 c.offsets(self.topic, p, -1))
                for p in pids
            ]
        total = sum(e - s for _, s, e in ranges)
        out = []
        for pid, start, end in ranges:
            n = end - start
            if n == 0:
                continue
            # honor minPartitions by splitting ranges proportionally
            pieces = 1
            if self.min_partitions > len(ranges) and total:
                pieces = max(1, round(self.min_partitions * n / total))
            step = -(-n // pieces)
            for s in range(start, end, step):
                out.append(
                    _OffsetRange(
                        self.bootstrap, self.topic, pid,
                        s, min(s + step, end), self.fmt,
                    )
                )
        return out

    def read(self, partition: _OffsetRange) -> Iterator[tuple]:
        return _read_range(partition)


def _allocate(backlog: dict, cap: int) -> dict:
    """Distribute a total per-trigger record cap across partitions
    proportionally to their backlog (the real connector's rate-limit
    shape), deterministically assigning remainders to the largest
    backlogs first."""
    total = sum(backlog.values())
    if total <= cap:
        return dict(backlog)
    alloc = {p: cap * b // total for p, b in backlog.items()}
    rem = cap - sum(alloc.values())
    for p in sorted(
        backlog, key=lambda x: (-(backlog[x] - alloc[x]), int(x))
    ):
        if rem <= 0:
            break
        if alloc[p] < backlog[p]:
            alloc[p] += 1
            rem -= 1
    return alloc


class _StreamReader(DataSourceStreamReader):
    """Offsets are ``{str(pid): next_offset}`` — the same shape the
    real source checkpoints.

    ``maxOffsetsPerTrigger`` (the reference sets it —
    ``ecommerce_streaming.py:46``) is the standard Python-DataSource
    approximation of the engine-side ReadLimit the real connector
    uses: ``latestOffset`` clamps its progression to
    ``last_planned_end + N`` (N allocated across partitions
    proportionally to backlog). The clamp base is the END of the last
    batch this instance PLANNED (``partitions``), never an
    independent pacing counter, so the reported end can only move
    forward — the regressing-end-offset failure mode (double-reads,
    premature drain termination) cannot occur. When no base is known
    yet (a checkpoint restart instantiates the reader without
    ``initialOffset``), the first ``latestOffset`` passes the log-end
    through unclamped — one uncapped catch-up batch, after which
    pacing resumes; the real connector makes the same trade under
    ``failOnDataLoss`` recovery."""

    def __init__(self, options: dict):
        self.bootstrap = _require(options, "bootstrap")
        self.topic = _require(options, "topic")
        mot = options.get("maxoffsetspertrigger")
        self.max_per_trigger = int(mot) if mot else None
        if self.max_per_trigger is not None and self.max_per_trigger <= 0:
            raise ValueError("maxOffsetsPerTrigger must be positive")
        self._clamp_base = None  # {str(pid): offset} | None
        # option parity with the real connector (the reference passes
        # startingOffsets=latest): earliest/latest map to ListOffsets
        # -2/-1; per-partition JSON assignments gate loudly rather
        # than silently starting at earliest
        so = str(options.get("startingoffsets", "earliest")).lower()
        if so not in ("earliest", "latest"):
            raise NotImplementedError(
                f"startingOffsets={so!r}: only earliest/latest are "
                "supported (per-partition JSON offsets need the "
                "jar-backed kafka connector)"
            )
        self.start_ts = -2 if so == "earliest" else -1
        self.fmt = _record_format(options)

    def initialOffset(self) -> dict:
        with MiniKafkaClient(self.bootstrap) as c:
            pids = c.metadata([self.topic])["topics"][self.topic]
            init = {
                str(p): c.offsets(self.topic, p, self.start_ts)
                for p in pids
            }
        self._clamp_base = dict(init)
        return init

    def latestOffset(self) -> dict:
        with MiniKafkaClient(self.bootstrap) as c:
            pids = c.metadata([self.topic])["topics"][self.topic]
            ends = {
                str(p): c.offsets(self.topic, p, -1) for p in pids
            }
            if self.max_per_trigger is None:
                return ends
            if self._clamp_base is None:
                # the engine calls latestOffset BEFORE initialOffset
                # on the first trigger (observed lifecycle): seed the
                # clamp base from the startingOffsets resolution —
                # identical to what initialOffset will return. After
                # a checkpoint restart this seed may sit below the
                # committed offset; partitions() then heals the base
                # to the engine's authoritative start (one empty
                # micro-batch, never a double-read).
                self._clamp_base = {
                    str(p): c.offsets(self.topic, p, self.start_ts)
                    for p in pids
                }
        base = self._clamp_base
        backlog = {
            p: max(0, e - base.get(p, 0)) for p, e in ends.items()
        }
        alloc = _allocate(backlog, self.max_per_trigger)
        return {p: base.get(p, 0) + alloc[p] for p in ends}

    def commit(self, end: dict) -> None:
        pass

    def partitions(self, start: dict, end: dict) -> list:
        # the engine's planned batch end is the ONLY clamp base that
        # can never regress the reported latest offset; max(start, ·)
        # heals a stale seed after checkpoint restart
        self._clamp_base = {
            p: max(int(start.get(p, 0)), int(end[p])) for p in end
        }
        return [
            _OffsetRange(
                self.bootstrap, self.topic, int(p),
                start.get(p, 0), end[p], self.fmt,
            )
            for p in sorted(end, key=int)
            if end[p] > start.get(p, 0)
        ]

    def read(self, partition: _OffsetRange) -> Iterator[tuple]:
        return _read_range(partition)


# --- sink --------------------------------------------------------------------


class _ProduceCommit(WriterCommitMessage):
    def __init__(self, n: int):
        self.n = n


def _as_bytes(v):
    if v is None or isinstance(v, (bytes, bytearray)):
        return None if v is None else bytes(v)
    return str(v).encode()


def _produce_rows(options: dict, iterator) -> _ProduceCommit:
    bootstrap = _require(options, "bootstrap")
    topic = _require(options, "topic")
    chunk = int(options.get("batchsize", 500))
    # compression.type parity with the real producer: gzip/snappy/
    # lz4 ride Produce v3 RecordBatch v2 frames (snappy in the JVM
    # clients' xerial stream framing, lz4 in the frame format); none
    # keeps the v0 path
    comp = str(options.get("compression.type",
                           options.get("compression", "none"))).lower()
    if comp not in ("none", "gzip", "snappy", "lz4"):
        raise NotImplementedError(
            f"compression.type={comp!r}: none|gzip|snappy|lz4 (the "
            "zstd codec is not in this environment)"
        )
    with MiniKafkaClient(bootstrap) as c:
        if comp in ("gzip", "snappy", "lz4"):
            def send(pid, msgs):
                c.produce_v2(topic, pid, msgs, compression=comp)
        else:
            def send(pid, msgs):
                c.produce(topic, pid, msgs)
        nparts = len(c.metadata([topic])["topics"][topic])
        buf: dict[int, list] = {}
        n = 0
        for row in iterator:
            d = row.asDict()
            if d.get("value") is None:
                raise ValueError(
                    "minikafka sink requires non-null value "
                    "(v0 tombstones need a keyed compacted topic)"
                )
            key = _as_bytes(d.get("key"))
            value = _as_bytes(d["value"])
            pid = d.get("partition")
            if pid is None:
                pid = zlib.crc32(key if key is not None else value) % nparts
            buf.setdefault(int(pid), []).append((key, value))
            n += 1
            if len(buf[int(pid)]) >= chunk:
                send(int(pid), buf.pop(int(pid)))
        for pid, msgs in sorted(buf.items()):
            send(pid, msgs)
    return _ProduceCommit(n)


def _check_value_column(names: list) -> None:
    if "value" not in names:
        raise ValueError(
            f"minikafka sink expects a 'value' column, got {names}"
        )


class _BatchWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.options = dict(options)

    def write(self, iterator) -> _ProduceCommit:
        return _produce_rows(self.options, iterator)

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:
        # produced messages cannot be unwritten: at-least-once, the
        # real non-transactional Kafka sink's contract
        pass


def batch_producer(options: dict) -> Callable:
    """``foreachBatch`` function that produces each micro-batch's rows
    (a ``value`` column, optional ``key``/``partition``) from executor
    tasks, with the batch sink's ``options``."""
    produce = partial(_produce_rows, options)

    def write_batch(batch_df, batch_id: int) -> None:
        _check_value_column(batch_df.columns)
        batch_df.foreachPartition(produce)

    return write_batch


class MiniKafkaDataSource(DataSource):
    """``minikafka``: batch + streaming source and batch sink over the
    from-scratch Kafka v0 wire protocol."""

    @classmethod
    def name(cls) -> str:
        return "minikafka"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _BatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _StreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError(
                "minikafka sink is append-only (a Kafka log cannot "
                "be overwritten)"
            )
        _check_value_column(schema.fieldNames())
        return _BatchWriter(self.options)


def register_minikafka(spark) -> None:
    """Idempotent registration of the minikafka source/sink."""
    spark.dataSource.register(MiniKafkaDataSource)

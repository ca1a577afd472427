"""Consumer smoke test — parity with the reference's
``kafka_consumer_test.py`` (reads up to N messages, reports
partition/offset/payload per message, lists available topics when the
read comes back empty; reference kafka_consumer_test.py:12-63).

Two transports:

- **wire**: the engine's own Kafka wire client
  (``consume_sample_wire``), with the reference's group semantics.
- **file**: replays a JSON-lines wire directory (what
  ``produce_to_files`` writes and the engine's file stream reads) —
  the broker-less path, so the smoke-test SHAPE is testable here.

Returns structured records instead of printing, so callers (tests,
notebooks, a CLI) decide presentation.
"""

from __future__ import annotations

import json
import os


def consume_sample_files(wire_dir: str, max_messages: int = 10) -> dict:
    """File-transport twin of the consumer smoke test: reads up to
    ``max_messages`` JSON lines across the directory's files in name
    order (the producer's flush order), reporting the source file as
    the 'partition' and the line number as the 'offset'."""
    messages = []
    files = sorted(
        f for f in os.listdir(wire_dir) if not f.startswith((".", "_"))
    )
    for fname in files:
        with open(os.path.join(wire_dir, fname)) as fh:
            for offset, line in enumerate(fh):
                if len(messages) >= max_messages:
                    break
                line = line.strip()
                if not line:
                    continue
                messages.append(
                    {
                        "partition": fname,
                        "offset": offset,
                        "value": json.loads(line),
                    }
                )
        if len(messages) >= max_messages:
            break
    return {
        "messages": messages,
        "empty": not messages,
        "available": files if not messages else [],
    }


def consume_sample_wire(
    bootstrap: str,
    topic: str = "ecommerce-orders",
    max_messages: int = 10,
    group_id: str | None = None,
    auto_offset_reset: str = "earliest",
    enable_auto_commit: bool = True,
) -> dict:
    """Consumer smoke test over the engine's own wire client — the
    reference's consumer semantics (kafka_consumer_test.py:18-29:
    ``group_id``, ``enable_auto_commit``, ``auto_offset_reset``,
    ``partitions_for_topic``) end-to-end with no kafka-python.

    Group mode is the single-member fast path: FindCoordinator names
    the coordinator, OffsetFetch recovers the group's committed
    positions (falling back to ``auto_offset_reset`` where nothing is
    committed — earliest/latest exactly like the real consumer), the
    read loop round-robins partitions up to ``max_messages``, and
    ``enable_auto_commit`` commits the advanced positions via
    OffsetCommit so a reconnect resumes where this call left off.

    Returns ``{"messages", "empty", "available", "partitions",
    "positions"}`` — positions are the group's post-read committed
    offsets ({} when not committing)."""
    import json as _json

    from ..sources.minikafka import MiniKafkaClient

    if auto_offset_reset not in ("earliest", "latest"):
        raise ValueError(
            f"auto_offset_reset={auto_offset_reset!r}: earliest|latest"
        )
    reset_ts = -2 if auto_offset_reset == "earliest" else -1
    with MiniKafkaClient(bootstrap) as c:
        meta = c.metadata([topic])
        pids = meta["topics"][topic]  # partitions_for_topic
        if group_id is not None:
            c.find_coordinator(group_id)  # this node coordinates
            committed = c.offset_fetch(
                group_id, [(topic, p) for p in pids]
            )
        else:
            committed = {}
        positions = {
            p: (
                committed[(topic, p)]
                if committed.get((topic, p), -1) >= 0
                else c.offsets(topic, p, reset_ts)
            )
            for p in pids
        }
        ends = {p: c.offsets(topic, p, -1) for p in pids}
        messages = []
        progressed = True
        while len(messages) < max_messages and progressed:
            progressed = False
            for p in pids:
                if len(messages) >= max_messages:
                    break
                if positions[p] >= ends[p]:
                    continue
                _, msgs = c.fetch(topic, p, positions[p])
                for off, _k, v in msgs:
                    if len(messages) >= max_messages:
                        break
                    try:
                        value = _json.loads(v.decode())
                    except (UnicodeDecodeError, ValueError):
                        value = v
                    messages.append(
                        {"partition": p, "offset": off, "value": value}
                    )
                    positions[p] = off + 1
                    progressed = True
        if group_id is not None and enable_auto_commit:
            c.offset_commit(
                group_id,
                {(topic, p): positions[p] for p in pids},
            )
        available = (
            sorted(c.metadata()["topics"]) if not messages else []
        )
    return {
        "messages": messages,
        "empty": not messages,
        "available": available,
        "partitions": sorted(pids),
        "positions": (
            {p: positions[p] for p in pids}
            if group_id is not None and enable_auto_commit
            else {}
        ),
    }


def consume_group_wire(
    bootstrap: str,
    topic: str = "ecommerce-orders",
    group_id: str = "ecommerce-group",
    max_messages: int = 10,
    auto_offset_reset: str = "earliest",
    enable_auto_commit: bool = True,
    session_timeout_ms: int = 10000,
) -> dict:
    """The reference consumer's FULL group semantics
    (kafka_consumer_test.py:18-29) over the engine's own wire
    client: FindCoordinator names the coordinator, JoinGroup enters
    the rebalance (blocking until the generation forms), the LEADER
    computes the range assignment client-side and distributes it via
    SyncGroup, and this member then reads ONLY its assigned
    partitions — so two concurrent instances split the topic's
    partitions with no overlap, exactly like two kafka-python
    consumers in one group. Positions resume from the group's
    committed offsets (``auto_offset_reset`` where none) and
    ``enable_auto_commit`` commits the advance; LeaveGroup triggers
    the next rebalance on exit.

    Returns ``{"messages", "empty", "member_id", "generation",
    "is_leader", "assigned", "positions"}``."""
    import json as _json

    from ..sources.minikafka import MiniKafkaClient, range_assign

    if auto_offset_reset not in ("earliest", "latest"):
        raise ValueError(
            f"auto_offset_reset={auto_offset_reset!r}: earliest|latest"
        )
    reset_ts = -2 if auto_offset_reset == "earliest" else -1
    with MiniKafkaClient(bootstrap) as c:
        c.find_coordinator(group_id)
        join = c.join_group(
            group_id, [topic], session_timeout_ms=session_timeout_ms
        )
        if join["is_leader"]:
            pids_by_topic = {
                t: c.metadata([t])["topics"][t]
                for ts in join["members"].values()
                for t in ts
            }
            assignment = range_assign(join["members"], pids_by_topic)
            mine = c.sync_group(
                group_id, join["generation"], join["member_id"],
                assignment,
            )
        else:
            mine = c.sync_group(
                group_id, join["generation"], join["member_id"]
            )
        assigned = sorted(mine.get(topic, []))
        committed = c.offset_fetch(
            group_id, [(topic, p) for p in assigned]
        )
        positions = {
            p: (
                committed[(topic, p)]
                if committed.get((topic, p), -1) >= 0
                else c.offsets(topic, p, reset_ts)
            )
            for p in assigned
        }
        ends = {p: c.offsets(topic, p, -1) for p in assigned}
        messages = []
        progressed = True
        while len(messages) < max_messages and progressed:
            progressed = False
            for p in assigned:
                if len(messages) >= max_messages:
                    break
                if positions[p] >= ends[p]:
                    continue
                _, msgs = c.fetch(topic, p, positions[p])
                for off, _k, v in msgs:
                    if len(messages) >= max_messages:
                        break
                    try:
                        value = _json.loads(v.decode())
                    except (UnicodeDecodeError, ValueError):
                        value = v
                    messages.append(
                        {"partition": p, "offset": off, "value": value}
                    )
                    positions[p] = off + 1
                    progressed = True
        if enable_auto_commit and assigned:
            c.offset_commit(
                group_id, {(topic, p): positions[p] for p in assigned}
            )
        c.leave_group(group_id, join["member_id"])
    return {
        "messages": messages,
        "empty": not messages,
        "member_id": join["member_id"],
        "generation": join["generation"],
        "is_leader": join["is_leader"],
        "assigned": assigned,
        "positions": dict(positions),
    }

"""The benchmark's inputs depend on the seed and nothing else."""

from __future__ import annotations

from perfbench import orders
from perfbench.tables import TABLES, build_tables


def test_waves_repeat_for_a_seed():
    assert orders.make_wave(5, 3) == orders.make_wave(5, 3)


def test_waves_differ_across_seeds_and_waves():
    assert orders.make_wave(5, 3) != orders.make_wave(6, 3)
    assert orders.make_wave(5, 3) != orders.make_wave(5, 4)


def test_wave_make_up():
    wave = orders.make_wave(1, 0)
    assert len(wave) == orders.WAVE_SIZE
    kinds = {orders.alert_type(o) for o in wave}
    assert kinds == {None, "HIGH_VALUE_ORDER", "SUSPICIOUS_LOCATION", "FRAUD_SIMULATION"}
    malformed = sum(orders.event_time(o) is None for o in wave)
    assert 0 < malformed < 0.05 * len(wave)
    assert len({o["user_id"] for o in wave}) > 90
    times = [t for t in map(orders.event_time, wave) if t is not None]
    assert times != sorted(times)  # out of order ...
    # ... but never older than the watermark the previous wave leaves
    prev = orders.watermark_after(orders.make_wave(1, 0))
    nxt = [t for t in map(orders.event_time, orders.make_wave(1, 1)) if t is not None]
    assert min(nxt) > prev


def test_tables_repeat_for_a_seed():
    a, b = build_tables(3, 0.001), build_tables(3, 0.001)
    assert set(a) == set(TABLES)
    for name in TABLES:
        assert a[name].equals(b[name]), name
    c = build_tables(4, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])

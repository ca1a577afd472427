"""Seeded order waves for the ``orders_pipeline`` workload, and the
plain-Python results the pipeline must produce from them.

Each wave holds ``WAVE_SIZE`` orders following the engine's
``ORDER_SCHEMA`` and covers one minute of event time, starting where
the previous wave's minute ends:

- about 100 users and the reference's 5-product catalog;
- every fraud rule fires (amount over 1000, suspicious location, the
  simulation flag), alone and together;
- ``MALFORMED_SHARE`` of the timestamps do not parse;
- ``LATE_SHARE`` of the orders carry an event time up to 20 s older
  than their place in the wave, which is out of order but inside the
  30 s watermark, so no order is dropped as late.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict
from datetime import datetime, timedelta

WAVE_SIZE = 1000
WAVE_SPAN = timedelta(minutes=1)
BASE_TIME = datetime(2024, 1, 1, 10, 0, 0)
WATERMARK = timedelta(seconds=30)
WINDOW = timedelta(minutes=1)
SLIDE = timedelta(seconds=30)
MALFORMED_SHARE = 0.02
LATE_SHARE = 0.10
FRAUD_SHARE = 0.10
AMOUNT_THRESHOLD = 1000.0
SUSPICIOUS = ("XX", "YY", "ZZ")
TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"

# the reference producer's catalog (ecommerce_data_producer.py)
CATALOG = (
    ("P001", "MacBook Pro", "Electronics", 999.99),
    ("P002", "Nike Shoes", "Clothing", 199.99),
    ("P003", "Coffee Maker", "Home", 299.99),
    ("P004", "Headphones", "Electronics", 399.99),
    ("P005", "Backpack", "Accessories", 249.99),
)
_LOCATIONS = ("US", "UK", "DE", "JP") + SUSPICIOUS
_LOCATION_WEIGHTS = (40, 25, 15, 15, 2, 2, 1)
_BAD_TIMESTAMPS = ("not-a-timestamp", "2024-13-45 25:61:00", "")


def make_wave(seed: int, wave: int, size: int = WAVE_SIZE) -> list[dict]:
    """The orders of one wave, in send order."""
    rng = random.Random(f"orders:{seed}:{wave}")
    start = BASE_TIME + wave * WAVE_SPAN + timedelta(milliseconds=7)
    step = WAVE_SPAN / size
    orders = []
    for i in range(size):
        pid, name, category, price = rng.choice(CATALOG)
        quantity = rng.randint(1, 5)
        ts = start + i * step
        if rng.random() < LATE_SHARE:
            ts -= timedelta(milliseconds=rng.randint(1_000, 20_000))
        ts_text = ts.replace(microsecond=ts.microsecond // 1000 * 1000).strftime(TS_FORMAT)
        if rng.random() < MALFORMED_SHARE:
            ts_text = rng.choice(_BAD_TIMESTAMPS)
        orders.append({
            "order_id": f"order_{seed}_{wave}_{i}",
            "user_id": f"user_{rng.randint(0, 99)}",
            "product_id": pid,
            "product_name": name,
            "category": category,
            "price": price,
            "quantity": quantity,
            "total_amount": round(price * quantity, 2),
            "location": rng.choices(_LOCATIONS, _LOCATION_WEIGHTS)[0],
            "timestamp": ts_text,
            "event_type": "order",
            "is_fraud_simulation": rng.random() < FRAUD_SHARE,
        })
    return orders


def event_time(order: dict) -> datetime | None:
    try:
        return datetime.strptime(order["timestamp"], TS_FORMAT)
    except ValueError:
        return None


def alert_type(order: dict) -> str | None:
    """The reference's first-match-wins rule chain; ``None`` = no alert."""
    if order["total_amount"] > AMOUNT_THRESHOLD:
        return "HIGH_VALUE_ORDER"
    if order["location"] in SUSPICIOUS:
        return "SUSPICIOUS_LOCATION"
    if order["is_fraud_simulation"]:
        return "FRAUD_SIMULATION"
    return None


def expected_alerts(orders: list[dict]) -> dict[str, str]:
    """order_id -> alert_type for every order the alert sink must emit.
    Orders whose timestamp does not parse are dropped before the rules."""
    out = {}
    for o in orders:
        kind = alert_type(o)
        if kind is not None and event_time(o) is not None:
            out[o["order_id"]] = kind
    return out


def watermark_after(orders: list[dict]) -> datetime | None:
    """The event-time watermark once all ``orders`` have been processed."""
    times = [t for t in map(event_time, orders) if t is not None]
    return max(times) - WATERMARK if times else None


def _window_starts(ts: datetime) -> list[datetime]:
    epoch = datetime(1970, 1, 1)
    slide_s = int(SLIDE.total_seconds())
    last = epoch + timedelta(seconds=int((ts - epoch).total_seconds()) // slide_s * slide_s)
    n = int(WINDOW / SLIDE)
    return [last - k * SLIDE for k in range(n)]


def expected_windows(orders: list[dict], watermark: datetime) -> dict[tuple, dict]:
    """(window_start, category, location) -> aggregates for every window
    the append-mode sink has emitted once ``watermark`` is reached, i.e.
    every window whose end is at or before the watermark."""
    groups: dict[tuple, list] = defaultdict(list)
    for o in orders:
        ts = event_time(o)
        if ts is None:
            continue
        for start in _window_starts(ts):
            if start + WINDOW <= watermark:
                groups[(start, o["category"], o["location"])].append(o)
    out = {}
    for key, rows in groups.items():
        amounts = [r["total_amount"] for r in rows]
        out[key] = {
            "order_count": len(rows),
            "total_revenue": math.fsum(amounts),
            "max_order_value": max(amounts),
            "min_order_value": min(amounts),
            "unique_customers": len({r["user_id"] for r in rows}),
        }
    return out


def distinct_tolerance(exact: int) -> int:
    """Allowed gap for ``approx_count_distinct`` (HLL++, 5% relative
    standard deviation): three standard deviations, at least 1."""
    return max(1, math.ceil(3 * 0.05 * exact))


def check_windows(rows: list[dict], watermark: datetime, orders: list[dict]) -> list[str]:
    """Compare the sink's window rows with :func:`expected_windows`;
    returns a list of problems (empty when correct)."""
    want = expected_windows(orders, watermark)
    problems = []
    seen = set()
    for r in rows:
        key = (r["window_start"], r["category"], r["location"])
        if key in seen:
            problems.append(f"window {key} emitted twice")
            continue
        seen.add(key)
        exp = want.get(key)
        if exp is None:
            problems.append(f"unexpected window {key}")
            continue
        if r["window_end"] != key[0] + WINDOW:
            problems.append(f"window {key} has end {r['window_end']}")
        for col in ("order_count", "max_order_value", "min_order_value"):
            if r[col] != exp[col]:
                problems.append(f"window {key} {col}: got {r[col]} want {exp[col]}")
        if not math.isclose(r["total_revenue"], exp["total_revenue"], rel_tol=1e-9):
            problems.append(f"window {key} total_revenue: got {r['total_revenue']} want {exp['total_revenue']}")
        avg = exp["total_revenue"] / exp["order_count"]
        if not math.isclose(r["avg_order_value"], avg, rel_tol=1e-9):
            problems.append(f"window {key} avg_order_value: got {r['avg_order_value']} want {avg}")
        gap = abs(r["unique_customers"] - exp["unique_customers"])
        if gap > distinct_tolerance(exp["unique_customers"]):
            problems.append(
                f"window {key} unique_customers: got {r['unique_customers']} "
                f"want {exp['unique_customers']}"
            )
    for key in want.keys() - seen:
        problems.append(f"missing window {key}")
    return problems


def check_alerts(alerts: list[dict], orders: list[dict]) -> list[str]:
    """Each expected alert exactly once, with the order's own fields."""
    want = expected_alerts(orders)
    by_id = {o["order_id"]: o for o in orders}
    problems = []
    seen = set()
    for a in alerts:
        oid = a.get("order_id")
        if oid in seen:
            problems.append(f"alert for {oid} emitted twice")
            continue
        seen.add(oid)
        if oid not in want:
            problems.append(f"unexpected alert for {oid}")
            continue
        if a.get("alert_type") != want[oid]:
            problems.append(f"alert {oid}: type {a.get('alert_type')} want {want[oid]}")
        src = by_id[oid]
        for col in ("user_id", "product_name", "total_amount", "location"):
            if a.get(col) != src[col]:
                problems.append(f"alert {oid}: {col} {a.get(col)!r} want {src[col]!r}")
    for oid in want.keys() - seen:
        problems.append(f"missing alert for {oid}")
    return problems

"""The plain-Python pipeline results on a wave worked by hand."""

from __future__ import annotations

from datetime import datetime

from perfbench import orders


def _order(oid, ts, amount, location="US", fraud=False, user="u1", category="Home"):
    return {
        "order_id": oid, "user_id": user, "product_id": "P003",
        "product_name": "Coffee Maker", "category": category, "price": amount,
        "quantity": 1, "total_amount": amount, "location": location,
        "timestamp": ts, "event_type": "order", "is_fraud_simulation": fraud,
    }


WAVE = [
    _order("a", "2024-01-01 10:00:10.000000", 100.0),
    _order("b", "2024-01-01 10:00:40.000000", 1500.0, location="XX", fraud=True, user="u2"),
    _order("c", "2024-01-01 10:00:20.000000", 50.0, location="ZZ"),  # out of order
    _order("d", "not-a-timestamp", 5000.0),  # dropped before both branches
    _order("e", "2024-01-01 10:01:50.000000", 10.0, fraud=True, category="Clothing"),
]
T = datetime(2024, 1, 1, 10, 0, 0)


def test_watermark_is_latest_event_minus_delay():
    assert orders.watermark_after(WAVE) == datetime(2024, 1, 1, 10, 1, 20)


def test_windows_by_hand():
    # watermark 10:01:20 closes the windows ending at 10:00:30 and
    # 10:01:00; b's window ending at 10:01:30 and e's stay open
    got = orders.expected_windows(WAVE, orders.watermark_after(WAVE))
    w0930 = datetime(2024, 1, 1, 9, 59, 30)
    w1000 = T
    assert set(got) == {
        (w0930, "Home", "US"), (w0930, "Home", "ZZ"),
        (w1000, "Home", "US"), (w1000, "Home", "ZZ"), (w1000, "Home", "XX"),
    }
    assert got[(w1000, "Home", "US")] == {
        "order_count": 1, "total_revenue": 100.0, "max_order_value": 100.0,
        "min_order_value": 100.0, "unique_customers": 1,
    }
    assert got[(w1000, "Home", "XX")]["total_revenue"] == 1500.0


def test_alerts_first_match_wins():
    assert orders.expected_alerts(WAVE) == {
        "b": "HIGH_VALUE_ORDER",  # beats the location and the flag
        "c": "SUSPICIOUS_LOCATION",
        "e": "FRAUD_SIMULATION",
    }


def _rows(wm):
    rows = []
    for (start, cat, loc), agg in orders.expected_windows(WAVE, wm).items():
        rows.append({
            "window_start": start, "window_end": start + orders.WINDOW,
            "category": cat, "location": loc,
            "avg_order_value": agg["total_revenue"] / agg["order_count"], **agg,
        })
    return rows


def test_check_windows_accepts_and_rejects():
    wm = orders.watermark_after(WAVE)
    rows = _rows(wm)
    assert orders.check_windows(rows, wm, WAVE) == []
    rows[0]["order_count"] += 1
    assert any("order_count" in p for p in orders.check_windows(rows, wm, WAVE))
    assert any("missing" in p for p in orders.check_windows(_rows(wm)[1:], wm, WAVE))
    assert any("twice" in p for p in orders.check_windows(_rows(wm) * 2, wm, WAVE))


def test_check_windows_allows_sketch_error_only():
    wm = orders.watermark_after(WAVE)
    rows = _rows(wm)
    rows[0]["unique_customers"] += 1  # within the tolerance of 1
    assert orders.check_windows(rows, wm, WAVE) == []
    rows[0]["unique_customers"] += 5
    assert orders.check_windows(rows, wm, WAVE) != []


def test_check_alerts():
    good = [
        {"order_id": "b", "alert_type": "HIGH_VALUE_ORDER", "user_id": "u2",
         "product_name": "Coffee Maker", "total_amount": 1500.0, "location": "XX"},
        {"order_id": "c", "alert_type": "SUSPICIOUS_LOCATION", "user_id": "u1",
         "product_name": "Coffee Maker", "total_amount": 50.0, "location": "ZZ"},
        {"order_id": "e", "alert_type": "FRAUD_SIMULATION", "user_id": "u1",
         "product_name": "Coffee Maker", "total_amount": 10.0, "location": "US"},
    ]
    assert orders.check_alerts(good, WAVE) == []
    assert any("twice" in p for p in orders.check_alerts(good + good[:1], WAVE))
    assert any("missing" in p for p in orders.check_alerts(good[1:], WAVE))
    wrong = [dict(good[0], alert_type="SUSPICIOUS_LOCATION")] + good[1:]
    assert orders.check_alerts(wrong, WAVE) != []

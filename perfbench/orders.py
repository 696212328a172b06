"""Wire encoding of the streaming workloads' orders, and the benchmark's
own recomputation of what the engine must emit for them.

The orders themselves come from the program's seeded generator,
``tools.producer.generate_orders``, which reproduces the reference
producer's catalog, locations and users; ``encode`` restamps each
order's event time. The recomputations are independent of the engine:
they re-derive the fraud-alert rule (first match wins) and the 1 min /
30 s sliding-window aggregates in plain Python, so the benchmark can
check the engine's alert topic and parquet sink against them;
``unique_customers`` is recomputed as Spark's HyperLogLog++ gives it
(``hll``).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from hll import approx_count_distinct

SUSPICIOUS = ("XX", "YY", "ZZ")
AMOUNT_LIMIT = 1000.0
WINDOW_S = 60
SLIDE_S = 30
TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"


def format_ts(epoch_s: float) -> str:
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime(TS_FORMAT)


def encode(order: dict, epoch_s: float) -> tuple[bytes, bytes]:
    """Wire message (key, value) for ``order`` with event time ``epoch_s``."""
    value = dict(order, timestamp=format_ts(epoch_s))
    return order["order_id"].encode(), json.dumps(value).encode()


def alert_type(order: dict) -> str | None:
    """The reference fraud rule, first match wins; None when no rule fires."""
    if order["total_amount"] > AMOUNT_LIMIT:
        return "HIGH_VALUE_ORDER"
    if order["location"] in SUSPICIOUS:
        return "SUSPICIOUS_LOCATION"
    if order["is_fraud_simulation"]:
        return "FRAUD_SIMULATION"
    return None


def expected_alerts(orders: list[dict]) -> dict[str, str]:
    return {
        o["order_id"]: t for o in orders if (t := alert_type(o)) is not None
    }


def score_alerts(known, orders, sent, window, alerts, due, limit_s):
    """Check the alerts read against the rule.

    ``orders[first:last]`` (``window``) are the measured orders, of which
    the first ``sent`` were sent; ``due(i)`` is order ``i``'s due time;
    ``alerts`` maps an order id to (first read time, alert type); ``known``
    holds every order the topology may have been sent. Returns the
    latency of each expected alert of the window, and the counts of
    missing and wrong alerts. An expected alert that was not read, was
    read past ``limit_s`` or whose order was never sent is missing and
    counts ``limit_s``; a read alert that is not its order's first match
    is wrong.
    """
    first, last = window
    latencies, missing = [], 0
    for i in range(first, last):
        if alert_type(orders[i]) is None:
            continue
        got = alerts.get(orders[i]["order_id"]) if i < sent else None
        if got is None or got[0] - due(i) > limit_s:
            missing += 1
            latencies.append(limit_s)
        else:
            latencies.append(got[0] - due(i))
    by_id = {o["order_id"]: o for o in known}
    wrong = sum(
        1 for oid, (_t, kind) in alerts.items()
        if oid not in by_id or alert_type(by_id[oid]) != kind
    )
    return latencies, missing, wrong


def expected_windows(orders: list[dict], event_s: list[float]) -> dict:
    """(window_start_s, category, location) -> aggregate dict, for every
    sliding window an order falls in."""
    acc: dict = {}
    for o, ts in zip(orders, event_s):
        # windows are computed from the microseconds the wire carries
        dt = datetime.fromtimestamp(ts, timezone.utc)
        us = int(dt.replace(microsecond=0).timestamp()) * 10**6 + dt.microsecond
        first = (us // (SLIDE_S * 10**6)) * SLIDE_S - (WINDOW_S - SLIDE_S)
        for start in range(first, us // 10**6 + 1, SLIDE_S):
            if not start * 10**6 <= us < (start + WINDOW_S) * 10**6:
                continue
            key = (start, o["category"], o["location"])
            a = acc.get(key)
            amt = o["total_amount"]
            if a is None:
                acc[key] = {
                    "order_count": 1,
                    "total_revenue": amt,
                    "max_order_value": amt,
                    "min_order_value": amt,
                    "users": {o["user_id"]},
                }
            else:
                a["order_count"] += 1
                a["total_revenue"] += amt
                a["max_order_value"] = max(a["max_order_value"], amt)
                a["min_order_value"] = min(a["min_order_value"], amt)
                a["users"].add(o["user_id"])
    return acc


def check_windows(rows: list[dict], expected: dict, watermark_s: float) -> tuple[int, int]:
    """Compare finalized window rows against the recomputation.

    Returns ``(checked, mismatched)``: every emitted row must equal its
    recomputed window (``unique_customers`` within HLL++'s error), and
    every recomputed window that ends before ``watermark_s`` must have
    been emitted exactly once.
    """
    seen: dict = {}
    bad = 0
    for r in rows:
        key = (int(r["window_start"]), r["category"], r["location"])
        seen[key] = seen.get(key, 0) + 1
        e = expected.get(key)
        if e is None or not _window_row_ok(r, e):
            bad += 1
    due = [
        k for k in expected if k[0] + WINDOW_S < watermark_s
    ]
    for k in due:
        if seen.get(k) != 1:
            bad += 1
    return max(len(rows), len(due)), bad


def _window_row_ok(r: dict, e: dict) -> bool:
    estimate = approx_count_distinct(e["users"])
    if estimate is not None:
        hll_ok = r["unique_customers"] == estimate
    else:
        # past linear counting: three of approx_count_distinct's default
        # relative standard deviations of 5%
        exact = len(e["users"])
        hll_ok = abs(r["unique_customers"] - exact) <= 0.15 * exact
    return (
        r["order_count"] == e["order_count"]
        and abs(r["total_revenue"] - e["total_revenue"])
        <= 1e-6 * max(1.0, abs(e["total_revenue"]))
        and r["max_order_value"] == e["max_order_value"]
        and r["min_order_value"] == e["min_order_value"]
        and hll_ok
    )

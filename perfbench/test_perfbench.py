"""Tests of the benchmark's own reducers and recomputations.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stream  # noqa: E402
from hll import approx_count_distinct, xxh64  # noqa: E402
from layers import EventLog, Spans, gmean, state_stats, trigger_stats, union_s  # noqa: E402
from orders import (  # noqa: E402
    alert_type,
    check_windows,
    expected_alerts,
    expected_windows,
    format_ts,
    score_alerts,
)

from kafka_spark_streaming_app_spark.tools.producer import generate_orders  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _task(stage, run_ms, cpu_ns, shuffle_w=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


def _stage(sid, start_ms, end_ms, accums):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid, "Submission Time": start_ms, "Completion Time": end_ms,
            "Accumulables": [{"ID": a} for a in accums],
        },
    }


CANNED_LOG = [
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 0,
        "sparkPlanInfo": {
            "nodeName": "WholeStageCodegen (1)", "metrics": [{"accumulatorId": 1}],
            "children": [
                {"nodeName": "MapInPandas", "metrics": [{"accumulatorId": 7}], "children": [
                    {"nodeName": "Scan parquet", "metrics": [{"accumulatorId": 3}], "children": []},
                ]},
            ],
        },
    },
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
    _task(0, 400, 300_000_000, shuffle_w=100),
    _task(0, 600, 500_000_000, spill=5),
    _stage(0, 1000, 1700, [1, 3]),
    _task(1, 900, 800_000_000),
    _stage(1, 1700, 2000, [7]),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [2]},
    _task(2, 200, 100_000_000),
    _stage(2, 3000, 3500, [1]),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
]


def canned_log() -> EventLog:
    return EventLog(json.dumps(ev) for ev in CANNED_LOG)


def test_event_log_reduce():
    rec = canned_log().reduce([(0.5, 4.5)], cores=2)
    assert rec["jobs"] == 2
    assert rec["stages"] == 3
    assert rec["tasks"] == 4
    assert rec["executor_run_s"] == pytest.approx(2.1)
    assert rec["executor_cpu_s"] == pytest.approx(1.7)
    assert rec["parallel_eff"] == pytest.approx(2.1 / (4.0 * 2))
    assert rec["shuffle_bytes"] == 100 + 4 * 10
    assert rec["spill_bytes"] == 5
    # only the stage whose metrics include the MapInPandas node's
    assert rec["python_stage_s"] == pytest.approx(0.9)
    # 4 s of wall, jobs cover 1.0-2.0 and 3.0-3.5
    assert rec["driver_gap_s"] == pytest.approx(2.5)


def test_event_log_interval_selects_jobs_by_submission():
    log = canned_log()
    assert log.reduce([(2.5, 4.0)], cores=1)["jobs"] == 1
    assert log.node_stage_s([(0.0, 10.0)], r"Scan parquet") == pytest.approx(1.0)


def test_union_s_merges_overlaps():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_s([]) == 0


def test_gmean_weighs_every_value_alike():
    assert gmean([1.0, 4.0]) == pytest.approx(2.0)
    # doubling the smallest value moves it as much as doubling the largest
    assert gmean([2.0, 4.0]) == pytest.approx(gmean([1.0, 8.0]))
    assert gmean([]) == 0.0


def _progress(batch, rows, durations, state=None):
    return {
        "batchId": batch, "numInputRows": rows, "timestamp": "2026-01-01T00:00:05.000Z",
        "durationMs": durations, "stateOperators": [state] if state else [],
    }


def test_trigger_and_state_stats():
    ps = [
        _progress(0, 100, {"latestOffset": 10, "queryPlanning": 20, "addBatch": 60,
                           "walCommit": 5, "commitOffsets": 5, "getBatch": 0,
                           "triggerExecution": 100},
                  {"numRowsTotal": 7, "memoryUsedBytes": 70, "commitTimeMs": 3,
                   "numRowsDroppedByWatermark": 0}),
        _progress(1, 300, {"latestOffset": 20, "queryPlanning": 20, "addBatch": 140,
                           "walCommit": 10, "commitOffsets": 10, "getBatch": 0,
                           "triggerExecution": 200},
                  {"numRowsTotal": 9, "memoryUsedBytes": 50, "commitTimeMs": 5,
                   "numRowsDroppedByWatermark": 0}),
    ]
    t = trigger_stats(ps)
    assert t["count"] == 2
    assert t["exec_ms_p50"] == pytest.approx(150)
    assert t["add_batch_ms_p50"] == pytest.approx(100)
    assert t["rows_p50"] == pytest.approx(200)
    assert t["phase_cover"] == pytest.approx(1.0)
    s = state_stats(ps)
    assert s == {"rows_total_max": 9, "memory_bytes_max": 70, "commit_ms_p50": 4.0,
                 "rows_dropped_late": 0}


def test_span_self_time_and_spark_children():
    spans = Spans("t")
    root = spans.add("workload", 0.0, 10.0)
    q = spans.add("query", 0.5, 4.5, root)
    build = spans.add("build", 0.5, 1.5, q)
    spans.add_spark(canned_log())
    out = {s["id"]: s for s in spans.with_self_time()}
    assert out[root]["self_s"] == pytest.approx(6.0)
    jobs = [s for s in out.values() if s["name"] == "spark.job"]
    # job 0 is submitted during the build, job 1 after it
    assert [j["parent"] for j in jobs] == [build, q]
    # build 0.5-1.5 and job 1 3.0-3.5 cover 1.5 of the query's 4.0
    assert out[q]["self_s"] == pytest.approx(2.5)
    # job 0 (1.0-2.0) covers the build's last 0.5
    assert out[build]["self_s"] == pytest.approx(0.5)
    stages = [s for s in out.values() if s["name"] == "spark.stage"]
    assert [s["python"] for s in stages] == [False, True, False]
    assert all(s["trace"] == "t" for s in out.values())


def test_window_phases_fix_the_trigger_mix():
    # 20 s windows: alert, parquet, alert, then the console trigger
    assert stream.window_phases(20) == {10, 15, 20, 25}
    assert stream.window_phases(15) == {15, 25}
    assert stream.window_phases(30) == {0, 5, 10, 15, 20, 25}


def test_metric_names_and_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(run.E2E)
    assert layer == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for name in e2e + layer:
        assert NAME.fullmatch(name), name
    assert len(set(e2e + layer)) == len(e2e + layer)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.E2E[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


def test_score_alerts_counts_missing_late_wrong_and_unsent():
    orders = generate_orders(200, seed=7)
    flagged = [i for i, o in enumerate(orders) if alert_type(o)]
    a, b, c, d = flagged[:4]
    alerts = {orders[i]["order_id"]: (i + 1.0, alert_type(orders[i])) for i in flagged}
    del alerts[orders[a]["order_id"]]  # never read
    alerts[orders[b]["order_id"]] = (b + 20.0, alert_type(orders[b]))  # past the limit
    alerts[orders[c]["order_id"]] = (c + 1.0, "NOT_A_RULE")  # wrong type
    alerts["stranger"] = (0.0, "HIGH_VALUE_ORDER")  # no such order
    # the generator stopped after order d, before the window's end
    lat, missing, wrong = score_alerts(
        orders, orders, d + 1, (0, 200), alerts, float, limit_s=10.0,
    )
    unsent = sum(1 for i in flagged if i > d)
    assert len(lat) == len(flagged)
    assert missing == 2 + unsent
    assert wrong == 2
    assert sorted(lat)[: len(flagged) - missing] == [1.0] * (len(flagged) - missing)


def test_windows_recomputation_checks_rows():
    orders = generate_orders(40, seed=3)
    event_s = [1_700_000_000.0 + i * 3.0 for i in range(40)]
    exp = expected_windows(orders, event_s)
    rows = [
        {"window_start": k[0], "category": k[1], "location": k[2],
         "order_count": v["order_count"], "total_revenue": v["total_revenue"],
         "max_order_value": v["max_order_value"], "min_order_value": v["min_order_value"],
         "unique_customers": approx_count_distinct(v["users"])}
        for k, v in exp.items()
    ]
    assert check_windows(rows, exp, watermark_s=2e9) == (len(rows), 0)
    rows[0]["order_count"] += 1
    assert check_windows(rows, exp, watermark_s=2e9)[1] == 1
    assert check_windows(rows[1:], exp, watermark_s=2e9)[1] == 1


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]").appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def _order_frame(spark, orders, event_s):
    from kafka_spark_streaming_app_spark.schemas import ORDER_SCHEMA
    from kafka_spark_streaming_app_spark.streaming.pipeline import parse_and_clean

    rows = [(json.dumps(dict(o, timestamp=format_ts(t))),) for o, t in zip(orders, event_s)]
    return parse_and_clean(spark.createDataFrame(rows, "value string"), ORDER_SCHEMA, watermark=None)


def test_alert_rule_matches_detect_fraud(spark):
    from kafka_spark_streaming_app_spark.operators.alerts import detect_fraud

    orders = generate_orders(300, seed=11)
    df = _order_frame(spark, orders, [1_700_000_000.0 + i for i in range(300)])
    got = {r.order_id: r.alert_type for r in detect_fraud(df, ["order_id"]).collect()}
    assert got == expected_alerts(orders)
    assert {alert_type(o) for o in orders} >= {
        "HIGH_VALUE_ORDER", "SUSPICIOUS_LOCATION", "FRAUD_SIMULATION", None
    }


def test_xxh64_reference_values():
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999


def test_hll_matches_approx_count_distinct(spark):
    import random

    from pyspark.sql import functions as F

    words = [f"user_{i}" for i in range(100)] + ["x" * 45, "a longer value of 37 bytes, or so...."]
    row = spark.range(1).select(*[F.xxhash64(F.lit(w)) for w in words]).first()
    assert [v % 2**64 for v in row] == [xxh64(w.encode()) for w in words]

    rng = random.Random(3)
    groups = [words] + [rng.sample(words, rng.randint(1, len(words))) for _ in range(60)]
    df = spark.createDataFrame([(g, w) for g, ws in enumerate(groups) for w in ws], "g int, w string")
    got = {r.g: r.n for r in df.groupBy("g").agg(F.approx_count_distinct("w").alias("n")).collect()}
    assert got == {g: approx_count_distinct(ws) for g, ws in enumerate(groups)}


@pytest.mark.parametrize("count, seed, start, step", [
    (300, 5, 1_700_000_000.123456, 0.7),
    # a window of 10 users that approx_count_distinct counts as 8
    (500, ~902, 1_700_000_000.0, 0.12),
])
def test_window_recomputation_matches_windowed_aggregation(spark, count, seed, start, step):
    from kafka_spark_streaming_app_spark.operators.windowed import windowed_aggregation

    orders = generate_orders(count, seed=seed)
    event_s = [start + i * step for i in range(count)]
    df = windowed_aggregation(
        _order_frame(spark, orders, event_s), ts_col="event_timestamp",
        keys=("category", "location"), amount_col="total_amount", user_col="user_id",
    )
    rows = [dict(r.asDict(), window_start=r.window_start.timestamp()) for r in df.collect()]
    exp = expected_windows(orders, event_s)
    assert len(rows) == len(exp)
    assert check_windows(rows, exp, watermark_s=2e9) == (len(rows), 0)


def test_procs_run_stops_what_the_child_left(tmp_path):
    import procs

    # the child starts a grandchild that outlives it, in a process group
    # of its own, the way the Spark JVM and its Python worker daemon do
    child = (
        "import os, subprocess, sys\n"
        "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'],"
        " process_group=0, stdout=subprocess.DEVNULL)\n"
        "print(p.pid)\n"
    )
    out = tmp_path / "out"
    rc = procs.run([sys.executable, "-c", child], dict(os.environ), str(out), timeout_s=30, grace_s=0.5)
    assert rc == 0
    grandchild = int(out.read_text())
    assert not os.path.exists(f"/proc/{grandchild}")


def test_procs_run_stops_a_child_past_its_timeout(tmp_path):
    import procs

    rc = procs.run([sys.executable, "-c", "import time; time.sleep(60)"], dict(os.environ),
                   str(tmp_path / "out"), timeout_s=0.5, grace_s=5)
    assert rc is None

"""The ``live_orders`` workload: an open loop of orders into the
streaming topology.

It runs the topology ``app.py --source minikafka`` builds, with its
triggers, against an in-process ``MiniKafkaBroker``: parse/clean and
watermark, then a sliding-window aggregation to a parquet sink (10 s)
and a console sink (30 s), and fraud alerts to the alert topic (5 s).
Alerts are read back from the alert topic by a poller, the way a user
of the topology sees them.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import threading
import time
import zlib

from layers import progress_time
from orders import alert_type, encode

PARTITIONS = 4
# the alert reader polls every POLL_S; progress is sampled every WATCH_S
POLL_S = 0.02
WATCH_S = 0.1
WARM_ORDERS = 500
# a run that has not finished by then is failed, well inside the 180 s
# a benchmark run may take
DEADLINE_S = 140


def start_topology(spark, bootstrap: str, in_topic: str, alert_topic: str, out: str) -> dict:
    """The ``app.py --source minikafka`` query set; returns role -> query."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.operators.alerts import detect_fraud
    from kafka_spark_streaming_app_spark.operators.windowed import windowed_aggregation
    from kafka_spark_streaming_app_spark.schemas import ORDER_SCHEMA
    from kafka_spark_streaming_app_spark.streaming.pipeline import (
        parse_and_clean,
        write_console_stream,
        write_minikafka_stream,
        write_parquet_stream,
    )

    raw = (
        spark.readStream.format("minikafka")
        .option("bootstrap", bootstrap)
        .option("topic", in_topic)
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
    return {
        "agg": write_parquet_stream(
            aggregates,
            path=f"{out}/windowed-aggregations",
            checkpoint=f"{out}/checkpoints/aggregations",
            trigger_seconds=10,
        ),
        "console": write_console_stream(aggregates, trigger_seconds=30),
        "alerts": write_minikafka_stream(
            alerts,
            servers=bootstrap,
            topic=alert_topic,
            checkpoint=f"{out}/checkpoints/alerts",
            trigger_seconds=5,
        ),
    }


def stop_topology(queries: dict) -> None:
    for q in queries.values():
        if q.isActive:
            q.stop()


class AlertReader:
    """Polls every partition of the alert topic at most ``POLL_S`` apart
    and records when each order's alert was first read."""

    def __init__(self, bootstrap: str, topic: str):
        from kafka_spark_streaming_app_spark.sources.minikafka import MiniKafkaClient

        self._client = MiniKafkaClient(bootstrap, client_id="perfbench-alerts")
        self._topic = topic
        self.first: dict[str, tuple[float, str]] = {}
        self.records = 0
        self._stop = threading.Event()
        self._error: BaseException | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            pos = [0] * PARTITIONS
            while not self._stop.is_set():
                cycle = time.time()
                for p in range(PARTITIONS):
                    while True:
                        _, msgs = self._client.fetch(self._topic, p, pos[p])
                        if not msgs:
                            break
                        seen = time.time()
                        for off, _k, v in msgs:
                            a = json.loads(v)
                            self.records += 1
                            self.first.setdefault(a["order_id"], (seen, a["alert_type"]))
                        pos[p] = msgs[-1][0] + 1
                self._stop.wait(max(0.0, POLL_S - (time.time() - cycle)))
        except BaseException as exc:  # surfaced by close()
            self._error = exc

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._client.close()
        if self._error is not None:
            raise RuntimeError("alert reader failed") from self._error


class Broker:
    """One in-process broker per run; each topology gets fresh topics."""

    def __init__(self):
        from kafka_spark_streaming_app_spark.sources.minikafka import MiniKafkaBroker

        self.broker = MiniKafkaBroker()
        self.bootstrap = self.broker.bootstrap
        self._n = 0

    def topics(self) -> tuple[str, str]:
        self._n += 1
        in_topic, alert_topic = f"orders-{self._n}", f"alerts-{self._n}"
        self.broker.create_topic(in_topic, partitions=PARTITIONS)
        self.broker.create_topic(alert_topic, partitions=PARTITIONS)
        return in_topic, alert_topic

    def log_end(self, topic: str) -> int:
        return sum(self.broker.end_offsets(topic))

    def preload(self, topic: str, orders: list[dict], event_s: list[float]) -> None:
        from kafka_spark_streaming_app_spark.sources.minikafka import MiniKafkaClient

        by_pid: dict[int, list] = {}
        for o, ts in zip(orders, event_s):
            key, value = encode(o, ts)
            by_pid.setdefault(zlib.crc32(key) % PARTITIONS, []).append((key, value))
        with MiniKafkaClient(self.bootstrap, client_id="perfbench-preload") as c:
            for pid, msgs in sorted(by_pid.items()):
                for i in range(0, len(msgs), 2000):
                    c.produce(topic, pid, msgs[i : i + 2000])

    def close(self) -> None:
        self.broker.close()


def _committed(q) -> int:
    p = q.lastProgress
    if not p or not p["sources"]:
        return -1
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        # a Python DataSource reports its offset dict as its repr
        end = ast.literal_eval(end)
    return sum(int(v) for v in (end or {}).values())


class Watch:
    """Samples each query's progress as it is posted: source lag (broker
    log end minus the committed end offset) at every trigger end."""

    def __init__(self, broker: Broker, topic: str, queries: dict):
        self.broker, self.topic, self.queries = broker, topic, queries
        self.last_batch = {r: None for r in queries}
        self.lag: list[tuple[float, str, int]] = []

    def poll(self) -> None:
        for role, q in self.queries.items():
            p = q.lastProgress
            if p is None or p["batchId"] == self.last_batch[role]:
                continue
            self.last_batch[role] = p["batchId"]
            self.lag.append((time.time(), role, self.broker.log_end(self.topic) - _committed(q)))

    def reported(self, t: float) -> bool:
        """Whether the aggregation and alert queries have each posted
        the progress of their last trigger due at or before ``t``."""
        for role, every in (("agg", PARQUET_S), ("alerts", ALERT_S)):
            p = self.queries[role].lastProgress
            if p is None or progress_time(p) < t // every * every:
                return False
        return True

    def drained(self, end: int) -> bool:
        return all(_committed(q) >= end for q in self.queries.values())


def progress(queries: dict) -> dict:
    return {r: [json.loads(p.json) for p in q.recentProgress] for r, q in queries.items()}


def read_windows(out: str) -> list[dict]:
    """Rows of the parquet files the sink committed (listed in its
    ``_spark_metadata`` log), as a reader of the sink would see them."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    log = f"{out}/windowed-aggregations/_spark_metadata"
    if not os.path.isdir(log):
        return []
    files = []
    for name in os.listdir(log):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(log, name)) as f:
            entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
        files += [e["path"] for e in entries if e.get("action") == "add"]
    rows = []
    for path in sorted(set(files)):
        rows += pq.read_table(unquote(urlparse(path).path)).to_pylist()
    for r in rows:
        r["window_start"] = r["window_start"].timestamp()
    return rows


# trigger intervals of the topology's sinks, seconds
ALERT_S, PARQUET_S, CONSOLE_S = 5, 10, 30


def window_phases(seconds: int) -> set[int]:
    """Offsets (mod the console interval) at which a measured window of
    ``seconds`` may start. Triggers fire on wall-clock multiples of their
    interval, so which parquet and console triggers coincide with the
    window's alert triggers depends on where it starts. Only starts that
    give the most common mix that includes a console trigger are used,
    so every run measures the same trigger mix."""
    mixes = {}
    for w0 in range(0, CONSOLE_S, ALERT_S):
        ts = range(w0 + ALERT_S, w0 + seconds + 1, ALERT_S)
        console = sum(t % CONSOLE_S == 0 for t in ts)
        parquet = sum(t % PARQUET_S == 0 and t % CONSOLE_S != 0 for t in ts)
        if console:
            mixes.setdefault((console, parquet), set()).add(w0)
    return max(mixes.values(), key=len)


def live(spark, broker: Broker, seed: int, rate: float, seconds: int, out: str,
         limit_s: float = 10.0) -> dict:
    """Open loop at ``rate`` orders/s into the topology once its cold
    first batch is done; the measured window covers orders due in
    ``seconds`` of wall time starting on the trigger grid."""
    from kafka_spark_streaming_app_spark.tools.producer import generate_orders

    in_topic, alert_topic = broker.topics()
    # a first batch for every query to start on, so the cold start runs
    # before the open loop does. Its event times lie 150 to 90 s in the
    # past: once the open loop moves the watermark, every window they
    # fall in is finalized and written within the run.
    # (its seed, the complement of the run's, gives order ids that no
    # measured order shares)
    warm = generate_orders(WARM_ORDERS, seed=~seed)
    now = time.time()
    warm_s = [now - 150 + 60 * i / WARM_ORDERS for i in range(WARM_ORDERS)]
    broker.preload(in_topic, warm, warm_s)
    reader = AlertReader(broker.bootstrap, alert_topic)
    t_start = time.time()
    queries = start_topology(spark, broker.bootstrap, in_topic, alert_topic, out)
    watch = Watch(broker, in_topic, queries)
    count = int((150 + seconds) * rate)
    orders = generate_orders(count, seed=seed)
    gen = None
    try:
        while not watch.drained(WARM_ORDERS):
            _check(queries, None, t_start)
            time.sleep(WATCH_S)
        gen_start = time.time() + 0.5
        gen_out = os.path.join(out, "loadgen.json")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
             broker.bootstrap, in_topic, str(seed), str(rate), repr(gen_start), str(count), gen_out],
        )
        # the window opens on the first allowed grid instant after the
        # open loop starts: every alert trigger inside it then reads a
        # full interval of orders
        phases = window_phases(seconds)
        w0 = int(gen_start // ALERT_S + 1) * ALERT_S
        while w0 % CONSOLE_S not in phases:
            w0 += ALERT_S
        w1 = w0 + seconds
        first, last = int((w0 - gen_start) * rate) + 1, int((w1 - gen_start) * rate) + 1
        expected = {o["order_id"] for o in orders[first:last] if alert_type(o) is not None}
        # until the window's alerts are read and the triggers that
        # served it have reported their progress
        while time.time() < w1 + limit_s and not (
            expected.issubset(reader.first) and watch.reported(w1)
        ):
            _check(queries, gen, t_start)
            watch.poll()
            time.sleep(WATCH_S)
        t_end = time.time()
    finally:
        if gen is not None:
            gen.terminate()
            gen.wait(timeout=30)
        stop_topology(queries)
        reader.close()
    with open(gen_out) as f:
        late_ms = json.load(f)["late_ms"]
    sent = len(late_ms)
    return {
        "start": t_start,
        "gen_start": gen_start,
        "setup_end": gen_start,
        "window": (w0, w1),
        "end": t_end,
        "rate": rate,
        "orders": orders,
        "sent": sent,
        "window_slice": (first, last),
        # every order the generator may have sent (a SIGTERM can land
        # between the produce calls of one tick, after the last record)
        "generated": warm + orders,
        # every order the topology was sent, with its event time
        "all_orders": warm + orders[:sent],
        "all_event_s": warm_s + [gen_start + i / rate for i in range(sent)],
        "late_ms": late_ms,
        "alerts": reader.first,
        "alert_records": reader.records,
        "progress": progress(queries),
        "lag": watch.lag,
    }


def _check(queries: dict, gen, t_start: float) -> None:
    if time.time() - t_start > DEADLINE_S:
        raise RuntimeError(f"live run still going after {DEADLINE_S} s")
    for role, q in queries.items():
        if q.exception() is not None:
            raise RuntimeError(f"{role} query failed: {q.exception()}")
    if gen is not None and gen.poll() not in (None, 0):
        raise RuntimeError(f"load generator exited with {gen.returncode}")

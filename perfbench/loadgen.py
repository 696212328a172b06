"""Open-loop order generator, run as its own process.

Sends order ``i`` of a seeded sequence at its due time ``start + i /
rate`` over one wire connection, whatever the consumer is doing, and
stamps the order's event time with that due time. On exit (or SIGTERM) it
writes how late each send ran (send completion minus due time) as JSON.

    python perfbench/loadgen.py BOOTSTRAP TOPIC SEED RATE START COUNT OUT
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from orders import encode  # noqa: E402

from kafka_spark_streaming_app_spark.tools.producer import generate_orders  # noqa: E402


def main(argv: list[str]) -> int:
    bootstrap, topic, seed, rate, start, count, out = argv
    seed, rate, start, count = int(seed), float(rate), float(start), int(count)

    orders = generate_orders(count, seed=seed)
    late_ms = []
    # the benchmark stops the generator with SIGTERM once it has its window
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    try:
        _send(bootstrap, topic, orders, rate, start, late_ms)
    finally:
        with open(out, "w") as f:
            json.dump({"start": start, "rate": rate, "late_ms": late_ms}, f)
    return 0


def _send(bootstrap, topic, orders, rate, start, late_ms) -> None:
    from kafka_spark_streaming_app_spark.sources.minikafka import MiniKafkaClient

    count = len(orders)
    with MiniKafkaClient(bootstrap, client_id="perfbench-loadgen") as c:
        nparts = len(c.metadata([topic])["topics"][topic])
        i = 0
        while i < count:
            now = time.time()
            due_end = i
            while due_end < count and start + due_end / rate <= now:
                due_end += 1
            if due_end == i:
                time.sleep(min(start + i / rate - now, 0.005))
                continue
            by_pid: dict[int, list] = {}
            for j in range(i, due_end):
                key, value = encode(orders[j], start + j / rate)
                by_pid.setdefault(zlib.crc32(key) % nparts, []).append((key, value))
            for pid, msgs in sorted(by_pid.items()):
                c.produce(topic, pid, msgs)
            sent = time.time()
            late_ms.extend(
                (sent - (start + j / rate)) * 1e3 for j in range(i, due_end)
            )
            i = due_end


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

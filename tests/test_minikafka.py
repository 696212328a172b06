"""Kafka wire-protocol tests: a hand-assembled Produce v0 request
sent over a RAW socket (framing pinned against the public protocol
spec independently of our client), broker conformance (offsets,
error codes, CRC rejection, max_bytes chunking), client/broker
round-trips under concurrency, and the Spark DataSource paths —
batch offset-splitting, executor-side produce, and a LIVE streaming
consume where waves arrive while the query runs.

Spec: kafka.apache.org/protocol (message set v0, request header v1).
This is the previously-missing reference capability
(ecommerce_streaming.py:38-52 source, :119-133 sink) executed
end-to-end in-sandbox.
"""

import json
import random
import socket
import struct
import threading
import zlib

import pytest

from kafka_spark_streaming_app_spark.sources.minikafka import (
    MiniKafkaBroker,
    MiniKafkaClient,
    decode_message_set,
    encode_message,
    encode_message_set,
)


@pytest.fixture()
def broker():
    b = MiniKafkaBroker()
    b.create_topic("t", partitions=2)
    yield b
    b.close()


def test_message_v0_layout_is_spec_exact():
    """magic-0 message: crc32(magic..value) | magic | attributes |
    key BYTES | value BYTES — layout written out by hand."""
    body = (
        b"\x00"              # magic 0
        b"\x00"              # attributes 0 (no compression)
        b"\xff\xff\xff\xff"  # key = null (BYTES -1)
        b"\x00\x00\x00\x02"  # value length 2
        b"hi"
    )
    expected = struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body
    assert encode_message(None, b"hi") == expected
    # messageset framing: offset int64 | size int32 | message
    ms = encode_message_set([(None, b"hi")], base_offset=5)
    assert ms == struct.pack(">q", 5) + struct.pack(">i", len(expected)) + expected
    assert decode_message_set(ms) == [(5, None, b"hi")]


def test_crc_corruption_is_rejected():
    ms = bytearray(encode_message_set([(b"k", b"payload")]))
    ms[-1] ^= 0x01  # flip one payload bit; crc must catch it
    with pytest.raises(ValueError, match="CRC"):
        decode_message_set(bytes(ms))


def test_hand_assembled_produce_request_over_raw_socket(broker):
    """The broker must accept a Produce v0 frame assembled BY HAND
    from the spec (no client code involved) and answer a spec-shaped
    response: correlation id echo, topic/partition/error/base_offset."""
    msg = encode_message(None, b"hi")
    msgset = struct.pack(">q", 0) + struct.pack(">i", len(msg)) + msg
    frame = (
        struct.pack(">h", 0)            # api_key Produce
        + struct.pack(">h", 0)          # api_version 0
        + struct.pack(">i", 7)          # correlation_id
        + struct.pack(">h", 1) + b"t"   # client_id "t"
        + struct.pack(">h", 1)          # acks
        + struct.pack(">i", 1000)       # timeout_ms
        + struct.pack(">i", 1)          # 1 topic
        + struct.pack(">h", 1) + b"t"   # topic "t"
        + struct.pack(">i", 1)          # 1 partition
        + struct.pack(">i", 0)          # partition 0
        + struct.pack(">i", len(msgset))
        + msgset
    )
    with socket.create_connection(("127.0.0.1", broker.port)) as s:
        s.sendall(struct.pack(">i", len(frame)) + frame)
        (size,) = struct.unpack(">i", s.recv(4))
        resp = b""
        while len(resp) < size:
            resp += s.recv(size - len(resp))
    # response: corr int32, [topics]: name, [parts]: pid err base
    assert struct.unpack(">i", resp[:4])[0] == 7
    assert struct.unpack(">i", resp[4:8])[0] == 1          # 1 topic
    assert resp[8:11] == struct.pack(">h", 1) + b"t"       # topic "t"
    assert struct.unpack(">i", resp[11:15])[0] == 1        # 1 partition
    pid, err, base = struct.unpack(">ihq", resp[15:29])
    assert (pid, err, base) == (0, 0, 0)
    # and the message is really on the log
    with MiniKafkaClient(broker.bootstrap) as c:
        hw, msgs = c.fetch("t", 0, 0)
        assert hw == 1 and msgs == [(0, None, b"hi")]


def test_produce_fetch_offsets_roundtrip(broker):
    with MiniKafkaClient(broker.bootstrap) as c:
        assert c.produce("t", 0, [(b"k0", b"v0"), (None, b"v1")]) == 0
        assert c.produce("t", 0, [(b"k2", b"v2")]) == 2
        assert c.produce("t", 1, [(None, b"w0")]) == 0
        hw, msgs = c.fetch("t", 0, 1)
        assert hw == 3
        assert msgs == [(1, None, b"v1"), (2, b"k2", b"v2")]
        assert c.offsets("t", 0, -2) == 0
        assert c.offsets("t", 0, -1) == 3
        assert c.offsets("t", 1, -1) == 1
        # empty fetch at log end is legal (poll position)
        hw, msgs = c.fetch("t", 1, 1)
        assert hw == 1 and msgs == []


def test_error_codes(broker):
    with MiniKafkaClient(broker.bootstrap) as c:
        with pytest.raises(ValueError, match="error 3"):
            c.produce("nope", 0, [(None, b"x")])
        with pytest.raises(ValueError, match="error 3"):
            c.fetch("t", 9, 0)  # partition out of range
        with pytest.raises(ValueError, match="error 1"):
            c.fetch("t", 0, 5)  # offset beyond log end
        with pytest.raises(ValueError, match="metadata error 3"):
            c.metadata(["ghost"])
        vs = c.api_versions()
        # Produce 0-3 / Fetch 0-4 (v3/v4 carry RecordBatch v2);
        # Metadata v0; admin + group APIs advertised
        assert vs[0] == (0, 3) and vs[1] == (0, 4) and vs[3] == (0, 0)
        for api in (8, 9, 10, 19, 20):
            assert vs[api] == (0, 0)


def test_fetch_respects_max_bytes_and_fetch_range_paginates(broker):
    payloads = [f"value-{i:03d}".encode() for i in range(50)]
    with MiniKafkaClient(broker.bootstrap) as c:
        c.produce("t", 0, [(None, p) for p in payloads])
        # tiny max_bytes: server must still return >= 1 message
        hw, msgs = c.fetch("t", 0, 0, max_bytes=1)
        assert hw == 50 and len(msgs) == 1
        # pagination covers exactly the requested half-open range
        got = list(c.fetch_range("t", 0, 3, 47))
        assert [o for o, _, _ in got] == list(range(3, 47))
        assert [v for _, _, v in got] == payloads[3:47]


def test_concurrent_producers_assign_dense_offsets(broker):
    def worker(i):
        with MiniKafkaClient(broker.bootstrap) as c:
            for j in range(20):
                c.produce("t", 0, [(None, f"{i}:{j}".encode())])

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with MiniKafkaClient(broker.bootstrap) as c:
        assert c.offsets("t", 0, -1) == 160
        seen = {v for _, _, v in c.fetch_range("t", 0, 0, 160)}
        assert len(seen) == 160  # every message exactly once


# --- Spark DataSource paths --------------------------------------------------


def _register(spark):
    from kafka_spark_streaming_app_spark.sources.minikafka_ds import (
        register_minikafka,
    )

    register_minikafka(spark)


def test_spark_batch_write_then_read(spark, broker):
    _register(spark)
    df = spark.createDataFrame(
        [(f"k{i}", f"payload-{i}") for i in range(100)],
        "key string, value string",
    )
    (
        df.write.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "t")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "t")
        .option("minPartitions", 8)
        .load()
    )
    rows = back.collect()
    assert len(rows) == 100
    assert sorted(r.value for r in rows) == sorted(
        f"payload-{i}".encode() for i in range(100)
    )
    # key-hash partitioning: same key always lands on one partition
    by_key = {}
    for r in rows:
        by_key.setdefault(bytes(r.key), set()).add(r.partition)
    assert all(len(ps) == 1 for ps in by_key.values())
    # batch split honored minPartitions beyond the 2 kafka partitions
    assert back.rdd.getNumPartitions() >= 4


def test_spark_read_is_offset_addressed(spark, broker):
    """Each Spark task fetches exactly its own offset range — prove
    it by checking (partition, offset) pairs are dense and unique."""
    _register(spark)
    with MiniKafkaClient(broker.bootstrap) as c:
        for p in (0, 1):
            c.produce("t", p, [(None, f"{p}-{i}".encode()) for i in range(40)])
    back = (
        spark.read.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "t")
        .option("minPartitions", 16)
        .load()
    )
    pairs = [(r.partition, r.offset) for r in back.collect()]
    assert len(pairs) == len(set(pairs)) == 80
    assert sorted(pairs) == [(p, o) for p in (0, 1) for o in range(40)]


def test_streaming_live_arrival_multiple_batches(spark, broker):
    """Waves produced WHILE the query runs must each drain into a
    micro-batch with monotonically advancing offsets, and the final
    complete-mode state must count every message exactly once."""
    from pyspark.sql import functions as F

    _register(spark)
    raw = (
        spark.readStream.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "t")
        .load()
    )
    agg = raw.agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("mk_live_sink")
        .outputMode("complete")
        .start()
    )
    try:
        with MiniKafkaClient(broker.bootstrap) as c:
            for wave in range(3):
                for p in (0, 1):
                    c.produce(
                        "t", p,
                        [(None, f"w{wave}-p{p}-{i}".encode())
                         for i in range(25)],
                    )
                q.processAllAvailable()
        assert spark.table("mk_live_sink").collect()[0].n == 150
        import ast

        ends = []
        for prog in q.recentProgress:
            eo = prog["sources"][0]["endOffset"]
            if eo:
                d = ast.literal_eval(eo) if isinstance(eo, str) else eo
                ends.append(sum(int(v) for v in d.values()))
        # offsets advanced monotonically across batches, >= 3 steps
        assert ends == sorted(ends) and len(set(ends)) >= 3
    finally:
        q.stop()


def test_max_offsets_per_trigger_paces_batches(spark, broker):
    """The reference's exact option (ecommerce_streaming.py:46): a
    pre-loaded topic must drain in ceil(total/N) micro-batches, no
    batch may exceed N records, every record arrives exactly once,
    and the per-batch end offsets must advance monotonically (the
    clamp can never regress the planned end)."""
    import ast

    _register(spark)
    with MiniKafkaClient(broker.bootstrap) as c:
        for p in (0, 1):
            c.produce(
                "t", p,
                [(None, f"p{p}-{i}".encode()) for i in range(35)],
            )
    raw = (
        spark.readStream.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "t")
        .option("maxOffsetsPerTrigger", 10)
        .load()
    )
    q = (
        raw.writeStream.format("memory")
        .queryName("mk_paced_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("mk_paced_sink").collect()
        assert len(rows) == 70
        assert len({(r.partition, r.offset) for r in rows}) == 70
        sizes, ends = [], []
        for prog in q.recentProgress:
            n = prog["numInputRows"]
            if n:
                sizes.append(n)
            eo = prog["sources"][0]["endOffset"]
            if eo:
                d = ast.literal_eval(eo) if isinstance(eo, str) else eo
                ends.append(sum(int(v) for v in d.values()))
        assert max(sizes) <= 10
        assert len(sizes) >= -(-70 // 10)  # ceil(total/N) triggers
        assert ends == sorted(ends)
    finally:
        q.stop()
    # a positive-integer contract: zero/negative gates loudly
    qb = None
    with pytest.raises(Exception, match="positive"):
        qb = (
            spark.readStream.format("minikafka")
            .option("bootstrap", broker.bootstrap)
            .option("topic", "t")
            .option("maxOffsetsPerTrigger", 0)
            .load()
            .writeStream.format("memory")
            .queryName("mk_paced_bad")
            .outputMode("append")
            .start()
        )
        qb.processAllAvailable()
    if qb is not None and qb.isActive:
        qb.stop()


def test_sink_rejects_null_value_and_overwrite(spark, broker):
    _register(spark)
    df = spark.createDataFrame([("k", None)], "key string, value string")
    with pytest.raises(Exception, match="non-null value"):
        (
            df.write.format("minikafka")
            .option("bootstrap", broker.bootstrap)
            .option("topic", "t")
            .mode("append")
            .save()
        )
    good = spark.createDataFrame([("k", "v")], "key string, value string")
    with pytest.raises(Exception, match="append-only"):
        (
            good.write.format("minikafka")
            .option("bootstrap", broker.bootstrap)
            .option("topic", "t")
            .mode("overwrite")
            .save()
        )


def test_producer_tool_wire_transport(spark, broker):
    """The reference producer's Kafka path (dual-rule alert mirror
    included) over the engine's own protocol client — executable
    broker-less, consumed back through the Spark source."""
    from kafka_spark_streaming_app_spark.tools.producer import (
        produce_to_wire,
    )

    broker.create_topic("ecommerce-orders", partitions=2)
    broker.create_topic("ecommerce-alerts", partitions=2)
    sent = produce_to_wire(broker.bootstrap, n=60, seed=7)
    assert sent == 60
    _register(spark)

    def read(topic):
        return (
            spark.read.format("minikafka")
            .option("bootstrap", broker.bootstrap)
            .option("topic", topic)
            .load()
        )

    import json as _json

    orders = [
        _json.loads(bytes(r.value)) for r in read("ecommerce-orders").collect()
    ]
    alerts = [
        _json.loads(bytes(r.value)) for r in read("ecommerce-alerts").collect()
    ]
    assert len(orders) == 60
    high = {o["order_id"] for o in orders if o["total_amount"] > 1000}
    assert {a["order_id"] for a in alerts} == high and high
    assert all(a["alert_type"] == "HIGH_VALUE_ORDER" for a in alerts)
    # per-key ordering: each order_id maps to exactly one partition
    for topic_rows in (read("ecommerce-orders").collect(),):
        by_key = {}
        for r in topic_rows:
            by_key.setdefault(bytes(r.key), set()).add(r.partition)
        assert all(len(p) == 1 for p in by_key.values())


def test_starting_offsets_latest_skips_backlog(spark, broker):
    """Option parity with the real connector (the reference passes
    startingOffsets=latest): latest starts at log-end so pre-start
    backlog is skipped; earliest (the default) replays it; any other
    value gates loudly instead of silently starting at earliest."""
    from pyspark.sql import functions as F

    _register(spark)
    with MiniKafkaClient(broker.bootstrap) as c:
        for p in (0, 1):
            c.produce(
                "t", p,
                [(None, f"backlog-p{p}-{i}".encode()) for i in range(10)],
            )

    def _drain(name, so):
        raw = (
            spark.readStream.format("minikafka")
            .option("bootstrap", broker.bootstrap)
            .option("topic", "t")
            .option("startingOffsets", so)
            .load()
        )
        q = (
            raw.agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            with MiniKafkaClient(broker.bootstrap) as c:
                c.produce("t", 0, [(None, b"live-1"), (None, b"live-2")])
            q.processAllAvailable()
            return spark.table(name).collect()[0].n
        finally:
            q.stop()

    assert _drain("mk_so_latest", "latest") == 2   # only live rows
    assert _drain("mk_so_earliest", "earliest") == 24  # backlog + live

    with pytest.raises(Exception) as ei:
        q = (
            spark.readStream.format("minikafka")
            .option("bootstrap", broker.bootstrap)
            .option("topic", "t")
            .option("startingOffsets", '{"t":{"0":5}}')
            .load()
            .writeStream.format("memory")
            .queryName("mk_so_bad")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    assert "startingOffsets" in str(ei.value)


# --- read packing and the streaming alert sink -------------------------------


def test_stream_partitions_pack_small_triggers():
    """The stream reader's packing rule, without a Spark session: a
    small trigger is one read task, a backlog of RECORDS_PER_TASK x
    partitions or more is one task per broker partition, every
    non-empty [start, end) is read exactly once, and planning still
    advances the maxOffsetsPerTrigger clamp base."""
    from kafka_spark_streaming_app_spark.sources.minikafka_ds import (
        RECORDS_PER_TASK as R,
        _StreamReader,
    )

    reader = _StreamReader({"bootstrap": "127.0.0.1:1", "topic": "t"})

    def plan(start, end):
        return [p.ranges for p in reader.partitions(start, end)]

    start = {"0": 10, "1": 0, "2": 5, "3": 7}
    small = {"0": 300, "1": 0, "2": 400, "3": 900}
    assert plan(start, small) == [[(0, 10, 300), (2, 5, 400), (3, 7, 900)]]
    backlog = {p: o + R for p, o in start.items()}
    assert plan(start, backlog) == [[(p, start[str(p)], backlog[str(p)])]
                                    for p in range(4)]
    assert plan(start, start) == []

    rng = random.Random(5)
    for _ in range(200):
        nparts = rng.randint(1, 8)
        lo = {str(p): rng.randint(0, 10**6) for p in range(nparts)}
        hi = {p: o + rng.choice([0, rng.randint(1, 3 * R)])
              for p, o in lo.items()}
        groups = plan(lo, hi)
        nonempty = sorted(
            (int(p), lo[p], hi[p]) for p in lo if hi[p] > lo[p]
        )
        records = sum(e - s for _, s, e in nonempty)
        assert len(groups) == min(len(nonempty), -(-records // R))
        assert sorted(r for g in groups for r in g) == nonempty
        assert all(g == sorted(g) for g in groups)

    paced = _StreamReader({
        "bootstrap": "127.0.0.1:1", "topic": "t",
        "maxoffsetspertrigger": "10",
    })
    paced.partitions({"0": 0, "1": 0}, {"0": 5, "1": 5})
    assert paced._clamp_base == {"0": 5, "1": 5}
    paced.partitions({"0": 5, "1": 5}, {"0": 12, "1": 8})
    assert paced._clamp_base == {"0": 12, "1": 8}


def _read_topic(broker, topic: str, partitions: int) -> list:
    with MiniKafkaClient(broker.bootstrap) as c:
        return [
            (p, bytes(v))
            for p in range(partitions)
            for _, _, v in c.fetch_range(
                topic, p, 0, c.offsets(topic, p, -1)
            )
        ]


def test_write_minikafka_stream_sink_contract(spark, broker, tmp_path):
    """The alert sink ``write_minikafka_stream`` over two live
    micro-batches: every row is produced exactly once as its
    ``to_json(struct(*))`` value on partition ``crc32(value) % n``,
    the placement the DataSource stream sink
    (``writeStream.format("minikafka")``) gives too. A produce error
    fails the query, naming the topic and batch."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_app_spark.operators.jsonpath import (
        serialize_json,
    )
    from kafka_spark_streaming_app_spark.streaming.pipeline import (
        write_minikafka_stream,
    )

    _register(spark)
    broker.create_topic("alerts", partitions=3)
    broker.create_topic("alerts_ds", partitions=3)
    orders = (
        spark.readStream.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "t")
        .load()
        .select(F.col("value").cast("string").alias("order_id"))
    )
    q = write_minikafka_stream(
        orders, broker.bootstrap, "alerts", str(tmp_path / "ck"),
        trigger_seconds=1,
    )
    sent = []
    try:
        with MiniKafkaClient(broker.bootstrap) as c:
            for wave in range(2):
                for p in (0, 1):
                    ids = [f"w{wave}-p{p}-{i}" for i in range(20)]
                    c.produce("t", p, [(None, o.encode()) for o in ids])
                    sent += ids
                q.processAllAvailable()
        assert sum(1 for p in q.recentProgress if p["numInputRows"]) >= 2
    finally:
        q.stop()
    got = _read_topic(broker, "alerts", 3)
    assert sorted(v for _, v in got) == sorted(
        json.dumps({"order_id": o}, separators=(",", ":")).encode()
        for o in sent
    )
    assert all(p == zlib.crc32(v) % 3 for p, v in got)

    ds = (
        serialize_json(orders)
        .writeStream.format("minikafka")
        .option("bootstrap", broker.bootstrap)
        .option("topic", "alerts_ds")
        .option("checkpointLocation", str(tmp_path / "ck_ds"))
        .start()
    )
    try:
        ds.processAllAvailable()
    finally:
        ds.stop()
    assert sorted(_read_topic(broker, "alerts_ds", 3)) == sorted(got)

    bad = write_minikafka_stream(
        orders, broker.bootstrap, "no_such_topic", str(tmp_path / "ck2"),
        trigger_seconds=1,
    )
    try:
        with pytest.raises(Exception) as err:
            bad.processAllAvailable()
    finally:
        bad.stop()
    assert "'no_such_topic'" in str(err.value)
    assert "batch 0" in str(err.value)

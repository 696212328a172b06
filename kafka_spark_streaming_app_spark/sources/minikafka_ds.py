"""Spark 4 Python DataSource over the from-scratch Kafka wire
protocol (sources/minikafka.py): ``spark.read.format("minikafka")``
/ ``readStream`` source and ``write``/``writeStream`` sink, schema-
and option-compatible with the real ``kafka`` connector where the v0
protocol subset allows.

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
and fetches exactly its own offset ranges (random access — no prefix
replay, no driver relay). The driver only ever moves OFFSETS
(O(partitions) integers per trigger). A streaming trigger is packed
into ``min(#non-empty ranges, ceil(records / RECORDS_PER_TASK))``
read tasks, each reading a group of broker-partition ranges in order
over one connection: a live trigger of a few thousand records is one
task, while a backlog of ``RECORDS_PER_TASK`` × partitions or more
still gets one task per broker partition. Each task start costs a
Python-worker run (see ``RECORDS_PER_TASK``), which dwarfs reading a
small trigger. The sink produces from executor tasks over Arrow
record batches (``produce_batches``); the streaming alert path
(``streaming.pipeline.write_minikafka_stream``) calls it from one
``foreachBatch`` ``mapInArrow`` stage. Producing is at-least-once
under task retry, matching the real non-transactional Kafka sink;
dedup downstream on a message key.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from .minikafka import MiniKafkaClient

_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)

# Records one streaming read task carries before a trigger is split
# over more tasks. Every task pays a fixed Python-worker start:
# pyspark's worker calls importlib.invalidate_caches(), which on
# Python 3.11 makes each cached zipimporter re-read its archive
# directory — 150-270 ms per task measured on a 4-core host (Spark
# 4.1.2), against ~0.02 ms per record to fetch and decode (1,250
# records in 22 ms). At 4,096 records a task reads for ~80 ms, a
# third of what one more task costs to start, so splitting any
# smaller trigger adds more worker start than it saves in reading.
# A backlog of RECORDS_PER_TASK x partitions or more still fans out
# to one task per broker partition.
RECORDS_PER_TASK = 4096


class _OffsetRanges(InputPartition):
    """``ranges``: ``[(pid, start, end), ...]``, read in order by one
    task over one connection."""

    def __init__(self, bootstrap, topic, ranges, fmt):
        self.bootstrap = bootstrap
        self.topic = topic
        self.ranges = ranges
        self.fmt = fmt


def _read_ranges(part: _OffsetRanges) -> Iterator[tuple]:
    with MiniKafkaClient(part.bootstrap) as c:
        for pid, start, end in part.ranges:
            for off, k, v in c.fetch_range(
                part.topic, pid, start, end, fmt=part.fmt
            ):
                yield (k, v, part.topic, pid, off, None, -1)


def _pack(ranges: list) -> list:
    """Group ``(pid, start, end)`` ranges into
    ``min(#non-empty ranges, ceil(records / RECORDS_PER_TASK))`` groups,
    balancing records (largest range to the lightest group). Every
    non-empty range lands in exactly one group; groups and the ranges
    within them are in partition order."""
    ranges = [r for r in ranges if r[2] > r[1]]
    records = sum(e - s for _, s, e in ranges)
    n = min(len(ranges), -(-records // RECORDS_PER_TASK))
    groups = [[] for _ in range(n)]
    loads = [0] * n
    for r in sorted(ranges, key=lambda r: (r[1] - r[2], r[0])):
        i = loads.index(min(loads))
        groups[i].append(r)
        loads[i] += r[2] - r[1]
    return sorted(sorted(g) for g in groups)


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
                    _OffsetRanges(
                        self.bootstrap, self.topic,
                        [(pid, s, min(s + step, end))], self.fmt,
                    )
                )
        return out

    def read(self, partition: _OffsetRanges) -> Iterator[tuple]:
        return _read_ranges(partition)


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
        ranges = [(int(p), int(start.get(p, 0)), int(end[p])) for p in end]
        return [
            _OffsetRanges(self.bootstrap, self.topic, group, self.fmt)
            for group in _pack(ranges)
        ]

    def read(self, partition: _OffsetRanges) -> Iterator[tuple]:
        return _read_ranges(partition)


# --- sink --------------------------------------------------------------------


class _ProduceCommit(WriterCommitMessage):
    def __init__(self, n: int):
        self.n = n


def _as_bytes(v):
    if v is None or isinstance(v, (bytes, bytearray)):
        return None if v is None else bytes(v)
    return str(v).encode()


def _column(batch, name: str) -> list:
    if name in batch.schema.names:
        return batch.column(name).to_pylist()
    return [None] * batch.num_rows


def produce_batches(options: dict, batches) -> int:
    """Produce every row of an iterator of ``pyarrow.RecordBatch``es
    to ``options["topic"]``; returns the row count. ``value`` is
    required and non-null; an optional ``key`` column rides along,
    and an optional ``partition`` column pins the target partition
    (else ``crc32(key or value) % partitions``). Rows are sent in
    chunks of ``batchSize`` per partition."""
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
        for batch in batches:
            if batch.column("value").null_count:
                raise ValueError(
                    "minikafka sink requires non-null value "
                    "(v0 tombstones need a keyed compacted topic)"
                )
            for key, value, pid in zip(
                _column(batch, "key"), _column(batch, "value"),
                _column(batch, "partition"),
            ):
                key = _as_bytes(key)
                value = _as_bytes(value)
                if pid is None:
                    pid = zlib.crc32(value if key is None else key) % nparts
                msgs = buf.setdefault(pid, [])
                msgs.append((key, value))
                if len(msgs) >= chunk:
                    send(pid, buf.pop(pid))
            n += batch.num_rows
        for pid, msgs in sorted(buf.items()):
            send(pid, msgs)
    return n


# commit/abort keep the base no-ops: produced messages cannot be
# unwritten (at-least-once, the real non-transactional Kafka sink's
# contract)
class _BatchWriter(DataSourceArrowWriter):
    def __init__(self, options: dict):
        self.options = dict(options)

    def write(self, iterator) -> _ProduceCommit:
        return _ProduceCommit(produce_batches(self.options, iterator))


class _StreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict):
        self.options = dict(options)

    def write(self, iterator) -> _ProduceCommit:
        return _ProduceCommit(produce_batches(self.options, iterator))


class MiniKafkaDataSource(DataSource):
    """``minikafka``: batch + streaming source and sink over the
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

    def _check_write_schema(self, schema):
        names = [f.name for f in schema.fields]
        if "value" not in names:
            raise ValueError(
                f"minikafka sink expects a 'value' column, got {names}"
            )

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError(
                "minikafka sink is append-only (a Kafka log cannot "
                "be overwritten)"
            )
        self._check_write_schema(schema)
        return _BatchWriter(self.options)

    def streamWriter(self, schema, overwrite) -> DataSourceStreamWriter:
        self._check_write_schema(schema)
        return _StreamWriter(self.options)


def register_minikafka(spark) -> None:
    """Idempotent registration of the minikafka source/sink."""
    spark.dataSource.register(MiniKafkaDataSource)

"""Streaming pipeline: ingestion parse path + sinks + fan-out.

Re-expresses the reference's end-to-end streaming program
(``ecommerce_streaming.py``): Kafka JSON wire → parse/clean →
watermark → {windowed agg → parquet + console, fraud alerts → Kafka}.

Every transform here is the SAME function the batch path uses — the
engine's core design rule. Only this module knows about triggers,
checkpoints, output modes, and sinks.

Scale notes: checkpoint + watermark state live in the state store; the
windowed agg's state is bounded by (watermark delay / slide) ×
|groups|. Sliding windows multiply state by overlap factor, not
shuffle volume. ``foreachBatch`` gives exactly-once parquet output via
batch-id-keyed idempotent writes when a sink lacks native support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.jsonpath import parse_json_column


def parse_and_clean(
    df: DataFrame,
    schema: T.StructType,
    value_col: str = "value",
    ts_field: str = "timestamp",
    watermark: str | None = "30 seconds",
) -> DataFrame:
    """The reference's ingestion path (parse_and_clean_data,
    ecommerce_streaming.py:54-63): binary/string value → from_json
    struct → flatten → processing_time + event_timestamp columns →
    drop unparseable timestamps → watermark.

    ``try_to_timestamp`` keeps ANSI mode safe (malformed → NULL →
    filtered), matching the reference's Spark-3 null-on-failure
    semantics.
    """
    typed = df.withColumn(value_col, F.col(value_col).cast("string"))
    flat = parse_json_column(typed, value_col, schema)
    cleaned = (
        flat.withColumn("processing_time", F.current_timestamp())
        .withColumn("event_timestamp", F.try_to_timestamp(F.col(ts_field)))
        .filter(F.col("event_timestamp").isNotNull())
    )
    if watermark:
        cleaned = cleaned.withWatermark("event_timestamp", watermark)
    return cleaned


def write_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 10,
    output_mode: str = "append",
) -> StreamingQuery:
    """Checkpointed append-mode parquet sink (reference
    write_aggregations_to_s3, ecommerce_streaming.py:109-117)."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_kafka_stream(
    df: DataFrame,
    kafka_servers: str,
    topic: str,
    checkpoint: str,
    trigger_seconds: int = 5,
    security: dict[str, str] | None = None,
) -> StreamingQuery:
    """JSON-serialized Kafka sink (reference write_alerts_to_kafka,
    ecommerce_streaming.py:119-133): to_json(struct(*)) as value.
    ``security`` takes the same ``kafka.``-prefixed auth options as the
    source (build with ``sources.streams.kafka_security_options``)."""
    from ..operators.jsonpath import serialize_json

    writer = (
        serialize_json(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", kafka_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    for key, value in (security or {}).items():
        writer = writer.option(key, value)
    return (
        writer.outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_minikafka_stream(
    df: DataFrame,
    servers: str,
    topic: str,
    checkpoint: str,
    trigger_seconds: int = 5,
) -> StreamingQuery:
    """write_kafka_stream's jar-less twin over the engine's own wire
    protocol (sources/minikafka_ds.py): identical
    ``to_json(struct(*))`` value, placed on partition
    ``crc32(value) % partitions`` — the reference alert sink
    executable with no broker installation.

    Each micro-batch is produced by one ``foreachBatch`` call running
    ``mapInArrow(produce_batches).collect()``: the Produce requests go
    out from executor tasks, in the same tasks that read the batch
    (the minikafka source packs a small trigger into one task), and
    no Python worker runs on the driver — none of the per-batch
    writer planning and separate commit run a
    ``writeStream.format("minikafka")`` sink pays on every trigger.
    At-least-once: a failed batch fails the query with the topic and
    batch id in its message, and a restart from the checkpoint
    produces that batch again."""
    from ..operators.jsonpath import serialize_json
    from ..sources.minikafka_ds import produce_batches

    options = {"bootstrap": servers, "topic": topic}

    def produce(batches):
        import pyarrow as pa

        yield pa.RecordBatch.from_pydict(
            {"n": [produce_batches(options, batches)]}
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            batch_df.mapInArrow(produce, "n long").collect()
        except Exception as exc:
            raise RuntimeError(
                f"minikafka sink: producing batch {batch_id} to topic "
                f"{topic!r} at {servers} failed"
            ) from exc

    return (
        serialize_json(df)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_console_stream(
    df: DataFrame, trigger_seconds: int = 30
) -> StreamingQuery:
    """Console monitoring sink (ecommerce_streaming.py:135-142)."""
    return (
        df.writeStream.format("console")
        .option("truncate", "false")
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_memory_stream(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = False,
) -> StreamingQuery:
    """Memory sink for deterministic tests: drive with
    ``processAllAvailable()`` then read ``spark.table(name)``."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_parquet(
    df: DataFrame, path: str, checkpoint: str, trigger_seconds: int = 10
) -> StreamingQuery:
    """foreachBatch parquet writer — the escape hatch for sinks without
    native streaming support; partitions output by micro-batch id so
    replays overwrite idempotently (exactly-once at the file level)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def fan_out(sinks: list, poll_seconds: float = 1.0) -> None:
    """Await a multi-sink fan-out (reference main(),
    ecommerce_streaming.py:197-218, which blocks on its console query
    only — a failure in another sink there goes unnoticed forever).

    Blocks until ANY query terminates; if it failed, re-raises its
    exception. All queries are stopped on the way out.
    """
    if not sinks:
        return
    import time as _time

    try:
        while True:
            for q in sinks:
                if not q.isActive:
                    q.awaitTermination()  # re-raises if the query failed
                    return
            _time.sleep(poll_seconds)
    finally:
        for q in sinks:
            if q.isActive:
                q.stop()

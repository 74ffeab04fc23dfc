"""Structured Streaming spine: durable source -> validate/enrich ->
route -> per-stream delivery (SURVEY.md §3.1 as a streaming plan).

The reference's pipeline stages map as:
  HTTP ingest (S1)        -> readStream on a durable transport (files
                             here; Kafka/Kinesis in production) --
                             Spark back-pressures instead of shedding
                             (V5 upgrade: no ingest loss).
  decode (V1/V2)          -> schema-on-read json / from_json.
  validate+enrich (V3-V8) -> the same Column transformations as batch.
  fan-out+queues (R1, B*) -> foreachBatch micro-batches; trigger
                             replaces the size/time hybrid flush
                             (B2/B3); checkpoint replaces B7.
  delivery (K1-K6)        -> routing_columns, planned once per query,
                             then route_and_deliver per trigger
                             (chunk/retry/failover).

Exactly-once story: checkpointed source offsets + at-least-once
delivery + downstream dedup key (transaction_uuid) =
effectively-once; dropDuplicatesWithinWatermark is available upstream
of delivery when the key is dense in event time.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from xmidt_event_streams_spark.config import FilterConfig
from xmidt_event_streams_spark.schema import WRP_SCHEMA
from xmidt_event_streams_spark.sinks.writer import route_and_deliver, routing_columns

DEFAULT_TRIGGER_SECONDS = 15  # DefaultBatchTimeLimitSeconds, queue.go:25


def read_wrp_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based WRP stream source with the fixed envelope schema.
    ``maxFilesPerTrigger`` is the B2 size-flush analog (bounds batch
    size at the source instead of shedding at a queue)."""
    reader = spark.readStream.schema(WRP_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def start_routing(
    df: DataFrame,
    filters: Iterable[FilterConfig],
    sender_factory: Callable,
    checkpoint_dir: str,
    trigger_seconds: int = DEFAULT_TRIGGER_SECONDS,
    dedup_key: str | None = None,
    watermark: tuple[str, str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    availableNow: bool = False,
    query_name: str | None = None,
    observe_gauges: bool = True,
):
    """Start the routing query over a streaming DataFrame.

    dedup_key + watermark enable dropDuplicatesWithinWatermark (the
    reference's at-least-once duplication, fixed upstream of the sink).
    ``transform`` applies the validate/enrich stage (batch-identical
    Columns). Returns the StreamingQuery.

    ``observe_gauges`` attaches the M4/M5 queue gauges
    (streaming/metrics.py): register a ``GaugeListener`` on the
    SparkSession to collect them per trigger.
    """
    filters = tuple(filters)
    if transform is not None:
        df = transform(df)
    if watermark is not None:
        df = df.withWatermark(*watermark)
        if dedup_key:
            df = df.dropDuplicatesWithinWatermark([dedup_key])
    elif dedup_key:
        df = df.dropDuplicates([dedup_key])

    if observe_gauges:
        from xmidt_event_streams_spark.streaming.metrics import with_gauges

        df = with_gauges(df, name=query_name or "queue")
    # planned once: no trigger rebuilds the routing projection
    df = df.selectExpr(*routing_columns(filters, df.columns))

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        route_and_deliver(batch_df, filters, sender_factory)

    writer = df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name:
        writer = writer.queryName(query_name)
    if availableNow:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()

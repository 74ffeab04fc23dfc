from xmidt_event_streams_spark.sinks.writer import (
    DeliveryResult,
    DirSender,
    MemorySender,
    Sender,
    deliver_batch,
    route_and_deliver,
    routing_columns,
)

__all__ = [
    "DeliveryResult",
    "DirSender",
    "MemorySender",
    "Sender",
    "deliver_batch",
    "route_and_deliver",
    "routing_columns",
]

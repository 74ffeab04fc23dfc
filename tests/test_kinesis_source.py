"""Kinesis source adapter, including the round trip: events delivered
through this package's chunked sender (the reference's K1 JSON +
partition-key shape) decode back to the original WRP rows."""

import glob
import json

import pytest
from pyspark.sql import functions as F

from xmidt_event_streams_spark.sources.kinesis import (
    decode_kinesis_records,
    kinesis_wrp_stream,
)

KINESIS_SHAPE = (
    "data binary, streamName string, shardId string, sequenceNumber string"
)


def _records_frame(spark, payloads, stream="wrp-out"):
    rows = [
        (bytearray(p), stream, "shardId-000", f"seq-{i:06d}")
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, KINESIS_SHAPE)


def test_decode_json_records_with_provenance(spark):
    payloads = [
        json.dumps(
            {
                "msg_type": 4,
                "source": f"mac:00000000000{i}",
                "dest": "event:device-status/x",
                "transaction_uuid": f"txn-{i}",
            }
        ).encode()
        for i in range(3)
    ] + [b"not json at all"]
    out = decode_kinesis_records(_records_frame(spark, payloads))
    rows = sorted(out.collect(), key=lambda r: r["sequenceNumber"])
    assert [r["transaction_uuid"] for r in rows[:3]] == ["txn-0", "txn-1", "txn-2"]
    assert all(r["decode_error"] is None for r in rows[:3])
    assert rows[3]["decode_error"] == "invalid json"
    assert rows[3]["sequenceNumber"] == "seq-000003"  # reject is traceable


def test_reader_raises_actionable_error_without_connector(spark):
    with pytest.raises(RuntimeError, match="connector"):
        kinesis_wrp_stream(spark, "wrp-out", "us-east-1")


def test_round_trip_through_chunked_sender(spark, tmp_path):
    """Close the loop the reference's integration suite closes
    (integrationTests/kinesis_test.go:39-62): deliver a batch through
    route_and_deliver -> DirSender (the Kinesis-shaped fake), reload
    the sink records AS Kinesis records, decode, and recover exactly
    the original events."""
    from xmidt_event_streams_spark.config import FilterConfig
    from xmidt_event_streams_spark.sinks.writer import (
        DirSenderFactory,
        route_and_deliver,
        routing_columns,
    )

    events = [
        {
            "msg_type": 4,
            "source": f"mac:{i:012x}",
            "dest": "event:device-status/mac:0/online",
            "transaction_uuid": f"txn-{i}",
            "content_type": "application/json",
            "session_id": f"sess-{i}",
            "partner_ids": ["comcast"],
            "metadata": {"/hw-model": "m1"},
        }
        for i in range(10)
    ]
    batch = spark.createDataFrame(
        events,
        "msg_type int, source string, dest string, transaction_uuid string, "
        "content_type string, session_id string, partner_ids array<string>, "
        "metadata map<string,string>",
    )
    sink_root = str(tmp_path / "sink")
    fc = FilterConfig(
        stream_name="wrp-out", events=["device-status.*"], dest_type="kinesis"
    )
    routed = batch.selectExpr(*routing_columns([fc], batch.columns))
    route_and_deliver(routed, [fc], DirSenderFactory(sink_root))

    # reload DirSender's jsonl puts as Kinesis-shaped records
    recs = []
    for f in glob.glob(f"{sink_root}/wrp-out/*.jsonl"):
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                recs.append(r["data"].encode())
    assert len(recs) == 10
    decoded = decode_kinesis_records(_records_frame(spark, recs))
    got = sorted(
        (r["transaction_uuid"], r["source"], r["dest"]) for r in decoded.collect()
    )
    want = sorted((e["transaction_uuid"], e["source"], e["dest"]) for e in events)
    assert got == want
    assert decoded.filter("decode_error IS NOT NULL").count() == 0

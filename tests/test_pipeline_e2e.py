"""Full-pipeline composition: the reference's stage chain (ingest ->
admission -> validate/enrich -> route -> bounded batch flush ->
chunked delivery with failover -> gauges) driven end-to-end through
Structured Streaming, with every stage an operator from this package.

Mirrors the reference's own integration shape (post events, poll the
sink, match by key: integrationTests/kinesis_test.go:39-62) but
exercises the parity flags too: V5 shed to a rejects sink, B1/B2/B4
flush arms, M4/M5 gauges.
"""
from tests.streamutil import await_stream

import json
import time

from xmidt_event_streams_spark.config import FilterConfig
from xmidt_event_streams_spark.enrich import fix_wrp, valid_msg_type
from xmidt_event_streams_spark.operators.admission import admission_control
from xmidt_event_streams_spark.sinks.writer import (
    DirSender,
    DirSenderFactory,
    route_and_deliver,
    routing_columns,
)
from xmidt_event_streams_spark.streaming.metrics import GaugeListener
from xmidt_event_streams_spark.streaming.router import read_wrp_stream
from xmidt_event_streams_spark.streaming.stateful import hybrid_flush


def _wrp_event(i, dest="event:device-status/mac:0/online", session=None):
    return {
        "msg_type": 4,
        "source": f"mac:{i:012x}",
        "dest": dest,
        "transaction_uuid": f"txn-{i}",
        "content_type": "application/json",
        "session_id": session or f"sess-{i:02d}",
        "partner_ids": ["comcast"],
        "metadata": {"/hw-model": "m1"},
    }


def _read_dir(out, stream):
    recs = []
    d = out / stream
    if d.exists():
        for p in d.iterdir():
            with open(p) as f:
                recs.extend(json.loads(line) for line in f)
    return recs


def test_admission_routing_gauges_compose(spark, tmp_path):
    """Ingest 8 -> admit 5 (V5 exact, deterministic order) -> validate
    -> route -> deliver; the 3 shed events land in the rejects sink
    with status 503; gauges record the batch."""
    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(8):
            f.write(json.dumps(_wrp_event(i)) + "\n")

    filters = (FilterConfig("device-status-stream", events=("device-status.*",)),)
    listener = GaugeListener()
    spark.streams.addListener(listener)
    rejects = DirSender(str(out))

    def process(batch_df, _bid):
        # persist before fanning out into admitted/rejected actions:
        # observe() counts MATERIALIZATIONS, so an unpersisted batch
        # consumed by two actions would double the M5 gauge
        batch_df.persist()
        try:
            admitted, rejected = admission_control(
                batch_df, max_outstanding=5, order_col="session_id", mode="exact"
            )
            fixed = fix_wrp(admitted.filter(valid_msg_type("msg_type")))
            route_and_deliver(
                fixed.selectExpr(*routing_columns(filters, fixed.columns)),
                filters,
                DirSenderFactory(str(out)),
            )
            items = [
                (r["session_id"], json.dumps({"status": r["reject_status"]}))
                for r in rejected.collect()
            ]
            if items:
                rejects.put_records(items, "rejected")
        finally:
            batch_df.unpersist()

    try:
        from xmidt_event_streams_spark.streaming.metrics import with_gauges

        q = (
            with_gauges(read_wrp_stream(spark, str(src)), name="e2e")
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .queryName("e2e")
            .start()
        )
        await_stream(q, 120)
        from xmidt_event_streams_spark.streaming.metrics import GAUGE_BATCH_SIZE

        gauges = listener.wait_for(GAUGE_BATCH_SIZE, timeout_s=30)
        assert any(
            g.queue_name == "e2e" and g.value == 8.0 for g in gauges
        )  # M5: the full ingested batch observed pre-admission
    finally:
        spark.streams.removeListener(listener)

    delivered = _read_dir(out, "device-status-stream")
    shed = _read_dir(out, "rejected")
    assert sorted(r["partition_key"] for r in delivered) == [
        f"sess-{i:02d}" for i in range(5)
    ]
    assert sorted(r["partition_key"] for r in shed) == [
        f"sess-{i:02d}" for i in range(5, 8)
    ]
    assert all(json.loads(r["data"])["status"] == 503 for r in shed)


def test_route_flush_deliver_compose(spark, tmp_path):
    """Routed stream -> hybrid_flush (B2 size arm + B4 idle arm +
    B1 bound) -> each flushed batch delivered as one put: the
    reference's queue->batch->submit chain, checkpointed."""
    from pyspark.sql import functions as F

    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(7):
            f.write(json.dumps(_wrp_event(i)) + "\n")

    routed = (
        read_wrp_stream(spark, str(src))
        .filter(valid_msg_type("msg_type"))
        .select(
            F.lit("device-status-stream").alias("stream_name"),
            F.to_json(F.struct("session_id", "dest")).alias("item"),
        )
    )
    flushed = hybrid_flush(
        routed, batch_size=3, time_limit_ms=60_000,
        submit_on_empty_queue=True, queue_size=100,
    )
    sender = DirSender(str(out))

    def deliver(batch_df, _bid):
        for r in batch_df.collect():
            sender.put_records(
                [(json.loads(it)["session_id"], it) for it in r["items"]],
                r["stream_name"],
            )

    q = (
        flushed.writeStream.outputMode("append")
        .foreachBatch(deliver)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    # hybrid_flush uses ProcessingTimeTimeout, whose
    # shouldRunAnotherBatch is always true -- the query never
    # self-terminates, so wait for the deliveries and stop
    from tests.streamutil import drain_and_stop

    drain_and_stop(
        q,
        lambda: len(_read_dir(out, "device-status-stream")) >= 7,
        120,
    )

    recs = _read_dir(out, "device-status-stream")
    assert sorted(r["partition_key"] for r in recs) == [
        f"sess-{i:02d}" for i in range(7)
    ]

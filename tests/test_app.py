"""One-call application assembly (app.py): reference-shaped YAML in,
running pipeline out -- routed deliveries per stream, reject ledger,
checkpointed restarts."""

from __future__ import annotations
from tests.streamutil import await_stream

import json
import os

import pytest

from xmidt_event_streams_spark.app import resolve_config, run_app
from xmidt_event_streams_spark.config import FilterConfig

YAML = """
filter_manager:
  default_batch_size: 100
  filters:
      - stream:
          stream_name: "status-stream"
          config_items: []
        events:
          - "device-status.*"
        metadata:
          device_ids: []
        dest_type: "dir"
      - stream:
          stream_name: "boot-stream"
          config_items: []
        alt_streams: []
        events:
          - "boot-time"
        metadata:
          device_ids: ["mac:.*"]
        dest_type: "dir"
"""


def _evt(i, dest, msg_type=4, source="mac:000000000042"):
    return {
        "msg_type": msg_type,
        "source": source,
        "dest": dest,
        "transaction_uuid": f"txn-{i}",
        "content_type": "application/json",
        "session_id": f"s-{i % 3}",
    }


def _write(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _delivered(sink_root, stream):
    d = os.path.join(sink_root, stream)
    out = []
    if not os.path.isdir(d):
        return out
    for fn in os.listdir(d):
        if fn.endswith(".jsonl"):
            with open(os.path.join(d, fn)) as f:
                out += [json.loads(line) for line in f]
    return out


@pytest.fixture()
def dirs(tmp_path):
    (tmp_path / "src").mkdir()
    cfg = tmp_path / "app.yaml"
    cfg.write_text(YAML)
    return {
        "src": str(tmp_path / "src"),
        "cfg": str(cfg),
        "sink": str(tmp_path / "sink"),
        "ckpt": str(tmp_path / "ckpt"),
        "rejects": str(tmp_path / "rejects"),
    }


def _run(spark, dirs):
    q = run_app(
        spark,
        dirs["cfg"],
        dirs["src"],
        dirs["ckpt"],
        sink_root=dirs["sink"],
        rejects_path=dirs["rejects"],
        availableNow=True,
    )
    await_stream(q, 180)


def test_yaml_to_routed_deliveries(spark, dirs):
    events = (
        [_evt(i, "event:device-status/mac:1/online") for i in range(4)]
        + [_evt(10 + i, "event:boot-time/mac:2/x") for i in range(3)]
        + [_evt(20, "event:other/mac:3/y")]       # matches neither
        + [_evt(30, "event:boot-time/m/x", msg_type=3)]  # V3 reject
    )
    _write(os.path.join(dirs["src"], "b1.json"), events)
    _run(spark, dirs)

    status = _delivered(dirs["sink"], "status-stream")
    boot = _delivered(dirs["sink"], "boot-stream")
    assert len(status) == 4 and len(boot) == 3
    # payload is the full fixed envelope; partition key = session_id
    p = json.loads(status[0]["data"])
    assert p["dest"].startswith("event:device-status/")
    assert status[0]["partition_key"].startswith("s-")
    # the V3 reject reached the ledger, not a stream
    rej = spark.read.parquet(dirs["rejects"])
    rows = rej.collect()
    assert len(rows) == 1 and rows[0]["reject_reason"] == "invalid_msg_type"
    assert _delivered(dirs["sink"], "other") == []


def test_restart_is_idempotent_and_incremental(spark, dirs):
    _write(
        os.path.join(dirs["src"], "b1.json"),
        [_evt(i, "event:boot-time/mac:9/x") for i in range(2)],
    )
    _run(spark, dirs)
    assert len(_delivered(dirs["sink"], "boot-stream")) == 2
    # restart with nothing new: no duplicate deliveries
    _run(spark, dirs)
    assert len(_delivered(dirs["sink"], "boot-stream")) == 2
    # restart with one new file: only the delta delivers
    _write(
        os.path.join(dirs["src"], "b2.json"),
        [_evt(100, "event:boot-time/mac:9/x")],
    )
    _run(spark, dirs)
    assert len(_delivered(dirs["sink"], "boot-stream")) == 3


def test_fixwrp_applied_before_delivery(spark, dirs):
    e = _evt(1, "event:boot-time/mac:1/x")
    e["transaction_uuid"] = ""
    e["content_type"] = ""
    _write(os.path.join(dirs["src"], "b1.json"), [e])
    _run(spark, dirs)
    p = json.loads(_delivered(dirs["sink"], "boot-stream")[0]["data"])
    assert p["content_type"] == "application/json"
    assert p["transaction_uuid"] not in ("", None)
    assert p["fix_reason"] == "empty_uuid_and_content_type"


def test_resolve_config_forms(spark):
    fcs = resolve_config(
        {"filters": [{"stream_name": "s", "events": ["a.*"]}]}
    )
    assert fcs[0].stream_name == "s"
    assert resolve_config(fcs) == fcs
    with pytest.raises(ValueError, match="zero filters"):
        resolve_config({"filters": []})
    with pytest.raises(TypeError, match="FilterConfig"):
        resolve_config(["nope"])


def test_sender_xor_sink_enforced(spark, dirs):
    with pytest.raises(ValueError, match="exactly one"):
        run_app(spark, dirs["cfg"], dirs["src"], dirs["ckpt"])


def test_cli_drain_mode(spark, dirs):
    """python -m ...app --drain over a backlog: same behavior as
    run_app availableNow, through the argparse surface (session
    injected so the test reuses the fixture)."""
    from xmidt_event_streams_spark.app import main

    _write(
        os.path.join(dirs["src"], "b1.json"),
        [_evt(i, "event:boot-time/mac:5/x") for i in range(3)],
    )
    rc = main(
        [
            "--config", dirs["cfg"],
            "--source", dirs["src"],
            "--checkpoint", dirs["ckpt"],
            "--sink-root", dirs["sink"],
            "--rejects", dirs["rejects"],
            "--drain", "--timeout", "180",
        ],
        spark=spark,
    )
    assert rc == 0
    assert len(_delivered(dirs["sink"], "boot-stream")) == 3


def test_expectations_feed_the_same_reject_ledger(spark, dirs):
    """Data-quality expectations compose into the app: violating rows
    join the protocol rejects in one ledger, with check names as the
    reason; clean rows deliver."""
    events = [
        _evt(1, "event:boot-time/mac:1/x"),
        {**_evt(2, "event:boot-time/mac:1/x"), "session_id": None},
        _evt(3, "event:boot-time/mac:1/x", msg_type=3),  # protocol reject
    ]
    _write(os.path.join(dirs["src"], "b1.json"), events)
    q = run_app(
        spark,
        dirs["cfg"],
        dirs["src"],
        dirs["ckpt"],
        sink_root=dirs["sink"],
        rejects_path=dirs["rejects"],
        expectations=[("not_null", ["session_id"])],
        availableNow=True,
    )
    await_stream(q, 180)
    assert len(_delivered(dirs["sink"], "boot-stream")) == 1
    reasons = sorted(
        r["reject_reason"]
        for r in spark.read.parquet(dirs["rejects"]).collect()
    )
    assert reasons == ["invalid_msg_type", "not_null:session_id"]



def test_trigger_is_two_jobs_over_one_scan(spark, dirs):
    """One trigger with the ledger on runs the delivery job for every
    filter and then the ledger write -- not a job per filter -- over
    one persisted read of the batch, so M4 (numInputRows) and M5 (the
    observed batch size) equal the batch's input rows, not twice
    that."""
    from tests.jobcount import query_jobs
    from xmidt_event_streams_spark.streaming.metrics import (
        GAUGE_BATCH_SIZE,
        GAUGE_WAITING,
        GaugeListener,
    )

    events = (
        [_evt(i, "event:device-status/mac:1/online") for i in range(2)]
        + [_evt(10 + i, "event:boot-time/mac:2/x") for i in range(2)]
        + [_evt(20 + i, "event:boot-time/mac:2/x", msg_type=3) for i in range(2)]
    )
    _write(os.path.join(dirs["src"], "b1.json"), events)
    listener = GaugeListener()
    spark.streams.addListener(listener)
    try:
        q = run_app(
            spark, dirs["cfg"], dirs["src"], dirs["ckpt"],
            sink_root=dirs["sink"], rejects_path=dirs["rejects"],
            availableNow=True, query_name="app-one-scan",
        )
        await_stream(q, 180)
        listener.wait_for(GAUGE_BATCH_SIZE, timeout_s=30)
    finally:
        spark.streams.removeListener(listener)
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) == 1
    jobs = query_jobs(spark, q)
    assert 1 <= len(jobs) <= 2, jobs
    gauges = {
        r.gauge: r.value
        for r in listener.records()
        if r.query_name == "app-one-scan" and r.value > 0
    }
    assert gauges == {GAUGE_WAITING: len(events), GAUGE_BATCH_SIZE: len(events)}
    assert len(_delivered(dirs["sink"], "status-stream")) == 2
    assert len(_delivered(dirs["sink"], "boot-stream")) == 2
    assert spark.read.parquet(dirs["rejects"]).count() == 2

"""Ports of internal/batch/batch_test.go (chunk arithmetic) and
filter/stream_dispatcher_test.go + internal/sender/kinesis_sender_test.go
(failover order, retry, partial failure) against the Python writer.
"""

import json

import pytest
from pyspark.sql import functions as F

from tests.jobcount import count_jobs
from xmidt_event_streams_spark.config import FilterConfig
from xmidt_event_streams_spark.enrich import fix_wrp
from xmidt_event_streams_spark.operators.batching import assign_batches, chunk_local
from xmidt_event_streams_spark.sinks.writer import (
    DirSender,
    DirSenderFactory,
    MemorySender,
    deliver_batch,
    route_and_deliver,
)


class TestChunkArithmetic:
    """batch_test.go:13-114: 0, <n, =n, n+1 cases."""

    def test_empty(self):
        assert chunk_local([], 500) == []

    def test_less_than_batch(self):
        assert chunk_local([1, 2, 3], 500) == [[1, 2, 3]]

    def test_exact_batch(self):
        out = chunk_local(list(range(500)), 500)
        assert len(out) == 1 and len(out[0]) == 500

    def test_one_over(self):
        out = chunk_local(list(range(501)), 500)
        assert [len(c) for c in out] == [500, 1]

    def test_multiple(self):
        out = chunk_local(list(range(1250)), 500)
        assert [len(c) for c in out] == [500, 500, 250]


class TestAssignBatches:
    def test_window_chunking(self, spark):
        df = spark.range(1203).select(
            F.lit("k").alias("g"), F.col("id").alias("i")
        )
        out = assign_batches(df, "g", "i", 500)
        counts = {
            r["batch_no"]: r["n"]
            for r in out.groupBy("batch_no").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {0: 500, 1: 500, 2: 203}


def _items(n):
    return [(f"pk{i}", f"{{\"i\":{i}}}") for i in range(n)]


class TestDelivery:
    def test_happy_path(self):
        s = MemorySender()
        res = deliver_batch(_items(3), ("primary",), s, retries=3, retry_interval_s=0)
        assert res.delivered == 3 and res.dropped == 0
        assert len(s.records["primary"]) == 3

    def test_chunking_500(self):
        s = MemorySender()
        deliver_batch(_items(1001), ("p",), s, retry_interval_s=0)
        assert [n for _, n in s.calls] == [500, 500, 1]

    def test_failover_order(self):
        """stream_dispatcher_test.go:239-312: primary fails -> alts in
        order; delivery to first healthy stream."""
        s = MemorySender(fail_streams={"primary", "alt1"})
        res = deliver_batch(
            _items(2), ("primary", "alt1", "alt2"), s, retries=2, retry_interval_s=0
        )
        assert res.delivered == 2
        assert "alt2" in s.records and "primary" not in s.records
        # primary and alt1 each retried `retries` times before failover
        streams_tried = [st for st, _ in s.calls]
        assert streams_tried == ["primary", "primary", "alt1", "alt1", "alt2"]

    def test_all_fail_drops_and_counts(self):
        """stream_dispatcher.go:69: all streams fail -> batch dropped."""
        s = MemorySender(fail_streams={"p", "a"})
        res = deliver_batch(_items(5), ("p", "a"), s, retries=2, retry_interval_s=0)
        assert res.dropped == 5 and res.delivered == 0
        assert res.failed_streams == ["p", "a"]
        # every put raised (MemorySender raises IOError, i.e. OSError):
        # each is counted and the first one's type kept
        assert res.attempts == 4 and res.raised == 4
        assert res.first_error == "OSError"

    def test_partial_failure_retries_whole_chunk(self):
        """kinesis_sender.go:103-116: FailedRecordCount>0 is an error;
        whole chunk retried (at-least-once)."""
        s = MemorySender(partial_fail_streams={"p"})
        res = deliver_batch(_items(2), ("p", "alt"), s, retries=2, retry_interval_s=0)
        assert res.delivered == 2
        assert len(s.records["alt"]) == 2
        assert [st for st, _ in s.calls] == ["p", "p", "alt"]
        # returned failures are failed puts, not raised ones
        assert res.raised == 0 and res.first_error is None

    def test_retry_then_recover(self):
        """kinesis_sender_test.go:227-304: transient error recovers
        within the retry budget."""
        s = MemorySender(fail_streams={"p"}, fail_times=1)
        res = deliver_batch(_items(1), ("p",), s, retries=3, retry_interval_s=0)
        assert res.delivered == 1 and res.attempts == 2


def _down_dir_factory(root, down):
    """Picklable factory: DirSender puts, except that every put to a
    stream in ``down`` raises OSError."""

    def factory():
        class _Down(DirSender):
            def put_records(self, items, stream):
                if stream in down:
                    raise OSError(f"stream {stream} unavailable")
                return DirSender.put_records(self, items, stream)

        return _Down(root)

    return factory


def _read_sink(root):
    """stream -> [(partition_key, payload dict)] under a DirSender root."""
    out = {}
    for d in root.iterdir():
        for p in d.iterdir():
            with open(p) as f:
                for line in f:
                    r = json.loads(line)
                    out.setdefault(d.name, []).append(
                        (r["partition_key"], json.loads(r["data"]))
                    )
    return out


class TestRouteAndDeliver:
    def test_batch_fanout_serialize_deliver(self, spark, tmp_path):
        df = spark.createDataFrame(
            [
                ("event:device-status/m1", "mac:1", "sess-1"),
                ("event:boot-time/m2", "mac:2", "sess-2"),
            ],
            "dest string, source string, session_id string",
        )
        filters = (
            FilterConfig("dev-stream", events=("device-status.*",)),
            FilterConfig("all-stream", events=(".*",)),
        )
        res = route_and_deliver(
            df, filters, DirSenderFactory(str(tmp_path)), retry_interval_s=0
        )
        assert res.delivered == 3 and res.dropped == 0 and res.raised == 0
        by_stream = {}
        for d in tmp_path.iterdir():
            for p in d.iterdir():
                with open(p) as f:
                    for line in f:
                        r = json.loads(line)
                        by_stream.setdefault(d.name, []).append(
                            (r["partition_key"], r["data"])
                        )
        assert len(by_stream["dev-stream"]) == 1
        assert len(by_stream["all-stream"]) == 2
        pk, payload = by_stream["dev-stream"][0]
        assert pk == "sess-1"  # K2: partition key = session id
        assert '"dest":"event:device-status/m1"' in payload  # K1 JSON

    @pytest.mark.parametrize("n_filters", [1, 3, 8])
    def test_one_spark_job_whatever_the_filter_count(self, spark, tmp_path, n_filters):
        df = spark.createDataFrame(
            [(f"event:device-status/m{i}", f"mac:{i}", f"sess-{i}") for i in range(6)],
            "dest string, source string, session_id string",
        )
        filters = [FilterConfig(f"s{i}", events=(".*",)) for i in range(n_filters)]
        results = []
        jobs = count_jobs(
            spark,
            lambda: results.append(
                route_and_deliver(
                    df, filters, DirSenderFactory(str(tmp_path)), retry_interval_s=0
                )
            ),
        )
        assert jobs == 1
        assert results[0].delivered == 6 * n_filters

    def test_accounting_sums_partitions_and_filters(self, spark, tmp_path):
        """The returned result sums every (partition, filter) row: drops,
        attempts and the typed sender failures reach the driver."""
        rows = [(f"event:device-status/m{i}", f"mac:{i}", f"sess-{i}") for i in range(4)]
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2),
            "dest string, source string, session_id string",
        )
        filters = (
            FilterConfig("up", events=(".*",)),
            FilterConfig("down", events=("device-status.*",)),
        )
        res = route_and_deliver(
            df, filters, _down_dir_factory(str(tmp_path), {"down"}), retry_interval_s=0
        )
        assert res.delivered == 4 and res.dropped == 4
        # one chunk per (partition, filter): 3 tries on the down
        # stream, one on the healthy one, in each of the 2 partitions
        assert res.failed_streams == ["down", "down"]
        assert res.raised == 6 and res.attempts == 8
        assert res.first_error == "OSError"
        assert len(_read_sink(tmp_path)["up"]) == 4

    def test_filled_uuid_is_the_same_on_every_matched_stream(self, spark, tmp_path):
        """fix_wrp fills an empty transaction_uuid with uuid(); an event
        that matches two filters must carry ONE filled uuid to both
        streams, not one uuid per (event, filter) pair."""
        df = spark.createDataFrame(
            [("event:device-status/m1", "mac:1", "sess-1", "", "application/json")],
            "dest string, source string, session_id string, "
            "transaction_uuid string, content_type string",
        )
        filters = (
            FilterConfig("a", events=("device-status.*",)),
            FilterConfig("b", events=(".*",)),
        )
        route_and_deliver(
            fix_wrp(df), filters, DirSenderFactory(str(tmp_path)), retry_interval_s=0
        )
        sink = _read_sink(tmp_path)
        uuids = {s: [p["transaction_uuid"] for _, p in sink[s]] for s in ("a", "b")}
        assert len(uuids["a"]) == 1 and len(uuids["b"]) == 1
        assert uuids["a"][0] not in ("", None)
        assert uuids["a"] == uuids["b"]

    def test_shared_primary_fails_over_to_each_filters_own_alts(self, spark, tmp_path):
        """Two filters with the same primary stream and different alts:
        when the primary is down, each filter's events go to ITS alt."""
        df = spark.createDataFrame(
            [
                ("event:device-status/m1", "mac:1", "sess-1"),
                ("event:boot-time/m2", "mac:2", "sess-2"),
            ],
            "dest string, source string, session_id string",
        )
        filters = (
            FilterConfig("shared", events=("device-status.*",), alt_streams=("alt-a",)),
            FilterConfig("shared", events=("boot-time.*",), alt_streams=("alt-b",)),
        )
        res = route_and_deliver(
            df, filters, _down_dir_factory(str(tmp_path), {"shared"}), retry_interval_s=0
        )
        sink = _read_sink(tmp_path)
        assert set(sink) == {"alt-a", "alt-b"}
        assert [p["dest"] for _, p in sink["alt-a"]] == ["event:device-status/m1"]
        assert [p["dest"] for _, p in sink["alt-b"]] == ["event:boot-time/m2"]
        assert res.delivered == 2 and res.dropped == 0
        # each filter's one chunk tried the primary 3 times, then its alt
        assert res.failed_streams == ["shared", "shared"]
        assert res.raised == 6 and res.first_error == "OSError"

"""Delivery writers: the reference's sink semantics (SURVEY.md §2.5)
as executor-side Python around declarative routing.

Semantics reproduced:
  K1  JSON serialization  -- to_json(struct(*)) on the JVM side; the
      writer only ever sees (partition_key, json_string) pairs.
  K2  partition key       -- session id rides with each item.
  K3  fixed-interval retry-- ``retries`` attempts per stream, with
      ``retry_interval_s`` slept between two attempts (reference:
      3 @ 10 ms, internal/sender/kinesis_sender.go:46-51).
  K4  alt-stream failover -- streams tried in config order; first
      full success wins (filter/stream_dispatcher.go:39-82).
  K5  partial failure     -- a chunk with failed records counts as an
      error and triggers retry of the WHOLE chunk (at-least-once,
      duplicates possible -- dedup downstream by transaction key).
  K6  chunking            -- <= 500 records per put
      (internal/kinesis/kinesis.go:27).

Senders are small picklable objects used from ``route_and_deliver``'s
partition pass: one instance per (partition, filter), each used from
one thread, bounded buffering, no driver round-trips. ``DirSender``
writes JSON-lines files per stream (the integration-testable sink,
mirroring the reference's read-back integration pattern);
``KinesisSender`` is gated behind boto3.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from xmidt_event_streams_spark.operators.batching import (
    MAX_PUT_RECORDS_BATCH_SIZE,
    chunk_local,
)

DEFAULT_RETRIES = 3  # internal/sender/kinesis_sender.go:20
DEFAULT_RETRY_INTERVAL_S = 0.01  # 10 ms
REFRESH_MARGIN_S = 180  # rebuild within 3 min of cred expiry, kinesis.go:323-337
# Most filters one partition delivers at once, one thread each (the
# reference gives every filter its own queue and workers).
MAX_DELIVERY_THREADS = 8
# The names of routing_columns' (key, payload, matched) columns,
# underscored so that they stay clear of the envelope's own columns
# (the WRP schema has a ``payload``).
ROUTING_COLS = ("_pk", "_payload", "_matched")


class RefreshingClientFactory:
    """K8: STS assume-role credential refresh
    (internal/kinesis/kinesis.go:115-193 getClient, :323-337
    refreshClient): the sink client is rebuilt whenever the cached
    credentials are within ``refresh_margin_s`` of expiry, so a
    long-lived executor partition writer never puts with stale creds.

    ``credentials_provider()`` returns ``(credentials, expiry_epoch)``
    — in a real deployment it calls ``sts.assume_role`` for the
    cross-account role and reads ``Credentials.Expiration``;
    ``build_client(credentials)`` constructs the boto3 client from
    them. Both are injected (and ``clock``) so the refresh window is
    unit-testable without AWS, matching the MemorySender pattern.
    ``expiry_epoch`` of ``None`` means non-expiring creds: built once.
    """

    def __init__(
        self,
        build_client,
        credentials_provider,
        refresh_margin_s: float = REFRESH_MARGIN_S,
        clock=time.time,
    ):
        self._build = build_client
        self._provider = credentials_provider
        self._margin = refresh_margin_s
        self._clock = clock
        self._client = None
        self._expiry: float | None = None

    def get(self):
        stale = self._client is None or (
            self._expiry is not None
            and self._expiry - self._clock() <= self._margin
        )
        if stale:
            creds, self._expiry = self._provider()
            self._client = self._build(creds)
        return self._client


class Sender:
    """Abstract put-records sink (the reference's KinesisClientAPI,
    internal/kinesis/kinesis.go:43-47). Returns the number of FAILED
    records; raises on transport error.

    ``route_and_deliver`` builds one sender per (partition, filter)
    and uses each from one thread only, so a sender needs no locking;
    senders of different filters run concurrently."""

    def put_records(self, items: list[tuple[str, str]], stream: str) -> int:
        raise NotImplementedError


class DirSender(Sender):
    """Filesystem sink: one JSON-lines file per put under
    <root>/<stream>/. Durable, re-readable -- the golden-output sink
    for integration tests (mirrors integrationTests/kinesis_test.go's
    poll-the-sink-and-assert pattern)."""

    def __init__(self, root: str):
        self.root = root

    def put_records(self, items, stream):
        d = os.path.join(self.root, stream)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"put-{uuid.uuid4().hex}.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for pk, payload in items:
                f.write(json.dumps({"partition_key": pk, "data": payload}) + "\n")
        os.rename(tmp, path)  # atomic publish
        return 0


class MemorySender(Sender):
    """In-process sink for unit tests; scriptable failures."""

    def __init__(self, fail_streams=(), partial_fail_streams=(), fail_times: int = 0):
        self.records: dict[str, list[tuple[str, str]]] = {}
        self.calls: list[tuple[str, int]] = []
        self.fail_streams = set(fail_streams)
        self.partial_fail_streams = set(partial_fail_streams)
        self.fail_times = fail_times
        self._failures = 0

    def put_records(self, items, stream):
        self.calls.append((stream, len(items)))
        if stream in self.fail_streams:
            if self.fail_times and self._failures >= self.fail_times:
                pass  # recovered
            else:
                self._failures += 1
                raise IOError(f"stream {stream} unavailable")
        if stream in self.partial_fail_streams:
            self._failures += 1
            return 1  # FailedRecordCount > 0
        self.records.setdefault(stream, []).extend(items)
        return 0


class KinesisSender(Sender):
    """AWS Kinesis PutRecords sink (chunking/retry handled by
    deliver_batch; this is one put call translating the AWS response
    shape -- FailedRecordCount + per-record ErrorCode, cf.
    internal/kinesis/kinesis.go:43-47 -- into the Sender contract).

    ``client`` injection makes the response handling unit-testable
    without AWS (tests/test_kinesis_sender.py ports the scripted-mock
    cases from internal/sender/kinesis_sender_test.go:227-345); when
    omitted, a real boto3 client is built (boto3 is not in this
    container -- real deployments have it)."""

    def __init__(
        self,
        region: str | None = None,
        endpoint_url: str | None = None,
        client=None,
        client_factory: "RefreshingClientFactory | None" = None,
    ):
        self._factory = client_factory
        if client is None and client_factory is None:
            try:
                import boto3  # type: ignore
            except ImportError as exc:  # pragma: no cover
                raise RuntimeError(
                    "boto3 is required unless a client or factory is injected"
                ) from exc
            client = boto3.client(
                "kinesis", region_name=region, endpoint_url=endpoint_url
            )
        self._client = client

    def put_records(self, items, stream):
        client = self._factory.get() if self._factory is not None else self._client
        resp = client.put_records(
            Records=[
                {"PartitionKey": pk, "Data": payload.encode()}
                for pk, payload in items
            ],
            StreamName=stream,
        )
        return int(resp.get("FailedRecordCount", 0))


class DirSenderFactory:
    """Picklable zero-arg factory for executor-side DirSenders (ships
    to workers via the library module, importable everywhere)."""

    def __init__(self, root: str):
        self.root = root

    def __call__(self) -> "DirSender":
        return DirSender(self.root)


@dataclass
class DeliveryResult:
    """Per-batch delivery accounting (the M2/M5/M6 metric sources).

    ``raised`` counts the puts that raised (transport errors, as
    opposed to puts that returned failed records); ``first_error`` is
    the class name of the first such exception, None when none did.
    Results add: ``route_and_deliver`` returns the sum over its
    partitions and filters."""

    delivered: int = 0
    dropped: int = 0
    attempts: int = 0
    failed_streams: list[str] = field(default_factory=list)
    raised: int = 0
    first_error: str | None = None

    def __add__(self, other: "DeliveryResult") -> "DeliveryResult":
        return DeliveryResult(
            self.delivered + other.delivered,
            self.dropped + other.dropped,
            self.attempts + other.attempts,
            self.failed_streams + other.failed_streams,
            self.raised + other.raised,
            self.first_error or other.first_error,
        )


def deliver_batch(
    items: list[tuple[str, str]],
    streams_in_order: tuple[str, ...],
    sender: Sender,
    retries: int = DEFAULT_RETRIES,
    retry_interval_s: float = DEFAULT_RETRY_INTERVAL_S,
    chunk_size: int = MAX_PUT_RECORDS_BATCH_SIZE,
) -> DeliveryResult:
    """K3-K6: chunk, then per chunk try each stream in order with
    fixed-interval retries; all-fail -> chunk dropped and counted
    (reference: filter/stream_dispatcher.go:39-105). The interval is
    slept between two attempts on a stream, never after its last one.
    A put that raises counts as a wholly failed put, and is counted in
    ``raised``."""
    res = DeliveryResult()
    for chunk in chunk_local(items, chunk_size):
        delivered = False
        for stream in streams_in_order:
            ok = False
            for attempt in range(max(1, retries)):
                if attempt:
                    time.sleep(retry_interval_s)
                res.attempts += 1
                try:
                    failed = sender.put_records(chunk, stream)
                except Exception as exc:
                    failed = len(chunk)
                    res.raised += 1
                    if res.first_error is None:
                        res.first_error = type(exc).__name__
                if failed == 0:
                    ok = True
                    break
            if ok:
                delivered = True
                break
            res.failed_streams.append(stream)
        if delivered:
            res.delivered += len(chunk)
        else:
            res.dropped += len(chunk)
    return res


def routing_columns(
    filters,
    payload_cols,
    key_col: str = "session_id",
    dest_col: str = "dest",
    source_col: str = "source",
) -> list[str]:
    """The three columns :func:`route_and_deliver` reads, as SQL
    expressions for a ``selectExpr`` over the rows to deliver (named
    ``ROUTING_COLS``):

    * ``_pk`` -- the K2 partition key, ``key_col`` as a string;
    * ``_payload`` -- the K1 JSON of ``payload_cols``, serialized in
      that order by ``to_json`` on the JVM side. They are SQL
      expressions: plain column names, or named expressions such as
      ``enrich.fix_wrp``'s (``app.run_app`` passes the fixWrp'd row);
    * ``_matched`` -- the row's array of matched filter ordinals
      (``route_union``'s matched-array shape, evaluated against
      ``dest_col`` without its ``event:`` prefix and ``source_col``).
      Ordinals rather than stream names, since two filters may share a
      primary stream but not their alts.

    SQL text is one parse, where a Column composition costs a py4j call
    per node. Streaming and batch plans take the same columns:
    ``app.run_app`` and ``streaming.router.start_routing`` put them in
    their query's plan once, at query start, so no trigger rebuilds
    them.
    """
    from xmidt_event_streams_spark.routing import (
        matched_streams_sql,
        strip_event_prefix_sql,
    )

    filters = tuple(filters)
    matched = matched_streams_sql(
        filters,
        strip_event_prefix_sql(dest_col),
        f"`{source_col}`",
        labels=map(str, range(len(filters))),
    )
    pk, payload, hits = ROUTING_COLS
    return [
        f"CAST(`{key_col}` AS STRING) AS {pk}",
        f"to_json(struct({', '.join(payload_cols)})) AS {payload}",
        f"{matched} AS {hits}",
    ]


def route_and_deliver(
    routed_df,
    filters,
    sender_factory,
    retries: int = DEFAULT_RETRIES,
    retry_interval_s: float = DEFAULT_RETRY_INTERVAL_S,
) -> DeliveryResult:
    """Deliver every row of ``routed_df`` to each filter it matched, in
    ONE Spark job whatever the filter count.

    ``routed_df`` holds the :func:`routing_columns` built over the
    same ``filters``, in the same order; its other columns are
    ignored. A single ``mapPartitions`` pass groups each partition's
    rows by filter and calls :func:`deliver_batch` once per filter with
    that filter's ``streams_in_order``, each filter on its own thread (at most
    ``MAX_DELIVERY_THREADS``) with its own sender, so one filter's
    retry sleeps never hold back another filter's puts. No shuffle, no
    explode: a row matched by several filters carries the same payload
    to each. The pass returns one :class:`DeliveryResult` per
    (partition, filter) to the driver; the call returns their sum.
    (Not an Arrow pass such as
    ``mapInPandas``: that loads pandas and pyarrow into every Python
    worker, about 50 MB of resident memory each, to move a few
    thousand string pairs per trigger.)

    The input is read once, so a caller that runs other actions over
    the same batch persists it first (``app._process`` does).
    ``sender_factory`` is a picklable zero-arg callable, called once
    per (partition, filter) with rows, on the partition's task thread
    and never concurrently; each sender it returns is then used from
    one delivery thread only (no shared driver state).
    """
    orders = [fc.streams_in_order for fc in filters]

    def _deliver(rows):
        by_filter: list[list[tuple[str, str]]] = [[] for _ in orders]
        for pk, payload, hits in rows:
            for i in hits:
                by_filter[i].append((pk, payload))
        work = [
            (items, streams, sender_factory())
            for items, streams in zip(by_filter, orders)
            if items
        ]
        if not work:
            return []

        def one(job):
            items, streams, sender = job
            return deliver_batch(items, streams, sender, retries, retry_interval_s)

        with ThreadPoolExecutor(min(len(work), MAX_DELIVERY_THREADS)) as pool:
            return list(pool.map(one, work))

    rows = routed_df.select(*ROUTING_COLS).rdd
    return sum(rows.mapPartitions(_deliver).collect(), DeliveryResult())

"""M4/M5 queue gauges: Spark-native replacements for the reference's
``queue_waiting_events`` and ``queue_batch_size`` gauges.

Reference semantics (internal/queue/queue.go):
  * ``queue_waiting_events`` -- gauge set to the channel depth on each
    arrival (queue.go:165 ``QueuedItems.Set(len(q.items))``);
  * ``queue_batch_size`` -- gauge set to the submitted batch's length
    at each submit (queue.go:195 ``BatchSize.Set(len(itemsToSubmit))``).
Metric definitions: internal/metrics/fx.go:44-54.

Spark mapping: a Structured Streaming micro-batch IS the queue drain,
so
  * waiting events  = ``numInputRows`` of each trigger (rows that
    accumulated at the source while the previous trigger ran -- the
    depth observed when the drain starts), reported per progress event;
  * batch size      = ``df.observe(...)``'d row count that actually
    flowed to the sink in that trigger (post validate/route drops, the
    moral equivalent of ``len(itemsToSubmit)``).

Both are collected by :class:`GaugeListener`, a
``StreamingQueryListener`` that turns progress events into queryable
gauge rows -- no driver-side polling of the running query, and the
listener holds only O(#triggers) tiny tuples, never data rows.

The batch path gets the same observation via
:func:`observe_batch_gauges` (``pyspark.sql.Observation``), which is
synchronous and exact.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

GAUGE_WAITING = "queue_waiting_events"
GAUGE_BATCH_SIZE = "queue_batch_size"

_OBS_PREFIX = "xes_gauges_"


def with_gauges(df: DataFrame, name: str = "queue") -> DataFrame:
    """Attach the M5 batch-size observation to a (streaming or batch)
    DataFrame. The observed count is evaluated inline by the sink
    stage -- zero extra jobs, zero extra shuffles.

    Semantics: ``observe`` counts rows MATERIALIZED through the node,
    accumulated per trigger. A ``foreachBatch`` body that runs
    multiple actions over an unpersisted batch re-executes the scan
    and multiplies the gauge (8 rows consumed by two actions reads as
    16). Persist the batch before fanning out -- the cached relation
    replaces the subtree and the gauge counts once. ``app._process``
    does this: its delivery and its reject-ledger write both read the
    one persisted batch (tests/test_app.py pins the 1x gauges;
    tests/test_pipeline_e2e.py shows the persisted pattern)."""
    return df.observe(
        _OBS_PREFIX + name, F.count(F.lit(1)).alias(GAUGE_BATCH_SIZE)
    )


@dataclass(frozen=True)
class GaugeRecord:
    query_name: str
    queue_name: str
    batch_id: int
    gauge: str
    value: float


class GaugeListener(StreamingQueryListener):
    """Collects per-trigger gauge rows from progress events.

    ``queue_waiting_events`` comes from ``progress.numInputRows``;
    ``queue_batch_size`` from the ``with_gauges`` observed metric.
    Listener callbacks arrive on a background thread -- records are
    appended under a lock and readable at any time.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._records: list[GaugeRecord] = []

    # -- StreamingQueryListener interface -------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        qname = p.name or p.id
        recs = [
            GaugeRecord(str(qname), "", int(p.batchId), GAUGE_WAITING,
                        float(p.numInputRows))
        ]
        for obs_name, metrics in (p.observedMetrics or {}).items():
            if not obs_name.startswith(_OBS_PREFIX):
                continue
            queue_name = obs_name[len(_OBS_PREFIX):]
            for gauge, value in metrics.asDict().items():
                recs.append(
                    GaugeRecord(str(qname), queue_name, int(p.batchId),
                                str(gauge), float(value))
                )
        with self._lock:
            self._records.extend(recs)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- query-side API -------------------------------------------
    def records(self) -> list[GaugeRecord]:
        with self._lock:
            return list(self._records)

    def wait_for(
        self, gauge: str, min_records: int = 1, timeout_s: float = 30.0
    ) -> list[GaugeRecord]:
        """Poll until ``min_records`` rows of ``gauge`` arrived (the
        listener bus is async) or raise TimeoutError."""
        deadline = time.monotonic() + timeout_s
        while True:
            got = [r for r in self.records() if r.gauge == gauge]
            if len(got) >= min_records:
                return got
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"{gauge}: {len(got)}/{min_records} records "
                    f"after {timeout_s}s"
                )
            time.sleep(0.2)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The gauges as a queryable DataFrame
        (query_name, queue_name, batch_id, gauge, value)."""
        return spark.createDataFrame(
            [
                (r.query_name, r.queue_name, r.batch_id, r.gauge, r.value)
                for r in self.records()
            ],
            "query_name string, queue_name string, batch_id long, "
            "gauge string, value double",
        )


def observe_batch_gauges(
    df: DataFrame, name: str = "queue"
) -> tuple[DataFrame, Observation]:
    """Batch-side twin: attach an Observation whose ``get`` yields
    {queue_batch_size: n} synchronously after the first action on the
    returned DataFrame."""
    obs = Observation(_OBS_PREFIX + name)
    return (
        df.observe(obs, F.count(F.lit(1)).alias(GAUGE_BATCH_SIZE)),
        obs,
    )

"""Job-group-scoped Spark job counting for plan-cost pins.

The r8 flake: job-count pins measured *raw status-store job-id deltas*
(max job id before vs after the measured call), so ANY concurrent job
-- a leaked streaming query's foreachBatch, a state-store coordinator,
a lazy-init listing -- landed in the window and broke the pin under
the full suite. The fix is attribution, not tolerance: tag the
measured call with a unique thread-local job group
(``sc.setJobGroup``), then count only the jobs the status store
attributes to that group. Jobs submitted by other threads (streaming
queries run their micro-batches under their own run-id group) can no
longer pollute the count.
"""

from __future__ import annotations

import itertools
import os
import time

_seq = itertools.count()


def _group_jobs(spark, group: str) -> list:
    """(jobId, 'name description') for every job in ``group``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    hits = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            desc = j.description()
            text = j.name() + " " + (desc.get() if desc.isDefined() else "")
            hits.append((j.jobId(), text))
    return hits


def _drain_listeners(spark) -> None:
    """The status store is fed by an async listener bus; block until
    it has processed everything submitted so far (with a bounded
    fallback poll if the internal API ever moves)."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(1.0)


def measured_jobs(spark, fn, *, match=None) -> list:
    """Run ``fn()`` under a fresh job group; return the jobs the
    status store attributes to that group, as ``(jobId, text)`` pairs
    (``text`` = job name + description). ``match`` optionally filters
    to jobs whose text contains the given substring.

    Only jobs submitted from THIS thread while ``fn`` runs carry the
    group (``setJobGroup`` is thread-local), so concurrent suite
    activity cannot inflate the count -- and the measured call's own
    jobs cannot leak out of it.
    """
    sc = spark.sparkContext
    group = f"xes-pin-{os.getpid()}-{next(_seq)}"
    sc.setJobGroup(group, "job-count pin measurement")
    try:
        fn()
    finally:
        # restore the default (no group) for subsequent work on this
        # thread; setJobGroup with empty id would still tag, so go
        # through the JVM-side clear
        sc._jsc.sc().clearJobGroup()
    _drain_listeners(spark)
    hits = _group_jobs(spark, group)
    if match is not None:
        hits = [(jid, txt) for jid, txt in hits if match in txt]
    return hits


def count_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` itself submits."""
    return len(measured_jobs(spark, fn))


def query_jobs(spark, query) -> list:
    """The jobs a streaming query's micro-batches submitted, as
    ``(jobId, text)`` pairs: the engine runs every trigger, its
    ``foreachBatch`` body included, under the query's run-id group."""
    _drain_listeners(spark)
    return _group_jobs(spark, str(query.runId))


def listing_jobs(spark, fn) -> list:
    """The file-listing jobs ``fn()`` submits (InMemoryFileIndex
    stamps 'Listing leaf files and directories for N paths')."""
    return measured_jobs(spark, fn, match="Listing leaf files")

"""Metric names and units, as listed in BENCHMARK.json.

End-to-end metrics are reported on every workload; each is defined on
each workload's own unit of work (see README.md).  A per-layer metric
of a layer a workload does not use reads 0.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

HEADLINE = (
    "flagship_route_counts", "route_fanout", "session_windows", "dedup_exact",
    "minhash_lsh_pairs", "embedding_topk", "tpch_q1", "tpch_q3",
    "asof_last_click", "tpch_q6", "range_join_clicks", "ivf_ann",
)

PER_LAYER = {
    "session.start_s": "s",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.lag_files": "count",
    "source.scan_ratio": "ratio",
    "engine.add_batch_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "enrich.busy_s": "s",
    "enrich.rejects": "count",
    "enrich.fixed": "count",
    "ledger.rows": "count",
    "ledger.busy_s": "s",
    "routing.build_ms": "ms",
    "routing.busy_s": "s",
    "routing.pairs_out": "count",
    "routing.fanout_ratio": "ratio",
    "writer.jobs_per_trigger": "count",
    "writer.put_calls": "count",
    "writer.records_put": "count",
    "writer.put_busy_s": "s",
    "writer.retries": "count",
    "writer.failovers": "count",
    "writer.dropped": "count",
    "writer.put_success_ratio": "ratio",
    "writer.deliver_batch_s": "s",
    "gauges.batch_size_ratio": "ratio",
    "gauges.waiting_ratio": "ratio",
    "trace.overhead_ms": "ms",
}
for _q in HEADLINE:
    PER_LAYER.update({
        f"catalog.{_q}.build_s": "s",
        f"catalog.{_q}.plan_s": "s",
        f"catalog.{_q}.exec_s": "s",
        f"catalog.{_q}.shuffle_bytes": "bytes",
        f"catalog.{_q}.spill_bytes": "bytes",
    })

# metrics where more is better; for every other one less is better
HIGHER_IS_BETTER = {"writer.records_put", "writer.put_success_ratio", "throughput_per_s"}

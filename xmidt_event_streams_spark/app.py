"""One-call application assembly: the reference's app wiring
(internal/install: config -> filter manager -> queues -> senders ->
metrics, composed by the fx container) as a single function over the
Spark building blocks.

``run_app`` takes the SAME config document the reference ships
(streams_only.yaml shape -- or a parsed dict, or compiled
FilterConfigs) and stands up the full data plane:

    durable source -> batch persisted once -> V3/V4/V7 reject split
    -> V6 fixWrp enrichment -> R1-R4 regex fan-out -> B6/K6 chunked
    delivery with K3 retry / K4 failover -> reject ledger write
    (idempotent per batch) -> M4/M5 gauges observed per trigger.

Each trigger runs two Spark jobs over one cached read of its batch:
the delivery job (every filter in one pass, ``route_and_deliver``)
and then the ledger write, which stays off the delivery latency path.
The source scan, and with it the M4/M5 gauges, counts each input row
once.

One streaming query, one checkpoint: the reject split and delivery
happen inside the same micro-batch transaction, so a replayed batch
re-splits and re-delivers the same rows (rejects idempotent by batch
id; delivery at-least-once with the transaction_uuid dedup key
downstream -- the same effectively-once posture as
streaming/router.py, which this composes rather than replaces).

The HTTP control plane (auth, servers) stays out of scope per
SURVEY.md §2.9 -- the data plane starts at the durable source.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from xmidt_event_streams_spark.config import (
    FilterConfig,
    load_filter_configs,
    load_filter_configs_yaml,
)
from xmidt_event_streams_spark.enrich import classify_rejects, fix_wrp
from xmidt_event_streams_spark.sinks.writer import (
    DirSenderFactory,
    route_and_deliver,
)
from xmidt_event_streams_spark.streaming.ingest_dedup import (
    idempotent_batch_append,
)
from xmidt_event_streams_spark.streaming.router import (
    DEFAULT_TRIGGER_SECONDS,
    read_wrp_stream,
)


def resolve_config(config) -> tuple[FilterConfig, ...]:
    """Accept a YAML path, a parsed config document, or compiled
    FilterConfigs; return the compiled tuple (non-empty, validated)."""
    if isinstance(config, str):
        filters = load_filter_configs_yaml(config)
    elif isinstance(config, dict):
        filters = load_filter_configs(config)
    else:
        filters = list(config)
        for fc in filters:
            if not isinstance(fc, FilterConfig):
                raise TypeError(f"expected FilterConfig, got {type(fc)!r}")
    if not filters:
        raise ValueError("config compiled to zero filters")
    return tuple(filters)


def run_app(
    spark,
    config,
    source_path: str,
    checkpoint_dir: str,
    sender_factory=None,
    sink_root: str | None = None,
    rejects_path: str | None = None,
    source_format: str = "json",
    required_cols: tuple[str, ...] = ("dest", "source"),
    expectations: list[tuple] | None = None,
    trigger_seconds: int = DEFAULT_TRIGGER_SECONDS,
    availableNow: bool = False,
    query_name: str = "xes-app",
    observe_gauges: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Assemble and START the pipeline; returns the StreamingQuery.

    Exactly one of ``sender_factory`` (production: your transport)
    or ``sink_root`` (directory delivery -- the integration-test
    posture) must be provided. ``rejects_path=None`` drops rejects
    after counting them into the gauge stream (the reference's
    counter-only behavior); set it to keep the ledger.

    ``expectations``: optional declarative checks
    (``expectations.with_violations`` tuples) applied AFTER the
    envelope validation -- violating rows join the same reject
    ledger with their check names as the reason, so one ledger
    carries both protocol rejects and data-quality rejects.
    """
    if (sender_factory is None) == (sink_root is None):
        raise ValueError("provide exactly one of sender_factory | sink_root")
    if sender_factory is None:
        sender_factory = DirSenderFactory(sink_root)
    filters = resolve_config(config)

    stream = read_wrp_stream(
        spark, source_path, source_format, max_files_per_trigger
    )
    if observe_gauges:
        from xmidt_event_streams_spark.streaming.metrics import with_gauges

        stream = with_gauges(stream, name=query_name)

    def _process(batch_df, batch_id: int) -> None:
        # the reject split, the delivery and the ledger all read this
        # one cached relation: the source is scanned once per trigger
        batch_df.persist()
        try:
            tagged = classify_rejects(batch_df, required_cols=required_cols)
            accepted = tagged.filter(F.col("reject_reason") == "")
            rejected = tagged.filter(F.col("reject_reason") != "")
            if expectations:
                from xmidt_event_streams_spark.expectations import (
                    VIOLATIONS_COL,
                    with_violations,
                )

                ann = with_violations(
                    accepted.drop("reject_reason"), expectations
                )
                bad = ann.filter(F.size(VIOLATIONS_COL) > 0).withColumn(
                    "reject_reason", F.concat_ws(",", F.col(VIOLATIONS_COL))
                ).drop(VIOLATIONS_COL)
                rejected = rejected.unionByName(bad)
                accepted = ann.filter(F.size(VIOLATIONS_COL) == 0).drop(
                    VIOLATIONS_COL
                ).withColumn("reject_reason", F.lit(""))
            route_and_deliver(
                fix_wrp(accepted.drop("reject_reason")), filters, sender_factory
            )
            if rejects_path is not None:
                idempotent_batch_append(rejected, batch_id, rejects_path)
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    ).queryName(query_name)
    if availableNow:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI runner -- the reference-binary analog:

        python -m xmidt_event_streams_spark.app \\
            --config streams.yaml --source /data/in \\
            --checkpoint /data/ck --sink-root /data/out \\
            [--rejects /data/rejects] [--drain] [--trigger-seconds 15]

    ``--drain`` runs availableNow (process the backlog, then exit --
    the batch/backfill posture); without it the query runs until
    interrupted. Returns 0 on clean termination."""
    import argparse

    p = argparse.ArgumentParser(prog="xmidt_event_streams_spark.app")
    p.add_argument("--config", required=True, help="YAML config path")
    p.add_argument("--source", required=True, help="source directory")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--sink-root", required=True, help="delivery root dir")
    p.add_argument("--rejects", default=None, help="reject ledger path")
    p.add_argument("--source-format", default="json")
    p.add_argument("--trigger-seconds", type=int,
                   default=DEFAULT_TRIGGER_SECONDS)
    p.add_argument("--drain", action="store_true",
                   help="availableNow: drain the backlog and exit")
    p.add_argument("--timeout", type=int, default=None,
                   help="max seconds to wait (drain mode)")
    args = p.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        from xmidt_event_streams_spark.session import get_spark

        spark = get_spark("xes-app")
    try:
        q = run_app(
            spark,
            args.config,
            args.source,
            args.checkpoint,
            sink_root=args.sink_root,
            rejects_path=args.rejects,
            source_format=args.source_format,
            trigger_seconds=args.trigger_seconds,
            availableNow=args.drain,
        )
        if args.drain and args.timeout is not None:
            # surface a drain that did not finish: an unchecked
            # timeout would exit 0 with the backlog half-processed
            # AND leave the query running into the session teardown
            if not q.awaitTermination(args.timeout):
                q.stop()
                print(
                    f"drain did not finish within {args.timeout}s; "
                    "query stopped (checkpoint preserves progress)",
                    file=sys.stderr,
                )
                return 1
        else:  # no timeout: block until the drain (or the
            # interactive query) terminates on its own
            q.awaitTermination()
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())

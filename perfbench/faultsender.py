"""A counting, fault-injecting sender around ``DirSender``.

Senders are built per partition inside Spark's Python worker
processes, so nothing they count can reach the driver through memory.
Each put call appends one JSON line to ``<stats_dir>/<pid>.jsonl``;
``aggregate`` reads every process's file after the drain.

The fault script maps a stream name to a failure mode:

  ``"raise"``   the put raises ``IOError`` (a transport error);
  ``"reject"``  the put returns every record as failed
                (``FailedRecordCount == len(items)``).

Streams not in the script are written by the wrapped ``DirSender``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time

from xmidt_event_streams_spark.sinks.writer import DirSender, Sender

MODES = ("raise", "reject")


class FaultSender(Sender):
    def __init__(self, inner: Sender, script: dict[str, str], stats_dir: str | None):
        bad = {m for m in script.values() if m not in MODES}
        if bad:
            raise ValueError(f"unknown fault modes {sorted(bad)}; use {MODES}")
        self.inner = inner
        self.script = dict(script)
        self.stats_dir = stats_dir

    def put_records(self, items, stream):
        t0 = time.perf_counter()
        mode = self.script.get(stream)
        failed, error = len(items), None
        try:
            if mode == "raise":
                error = "raise"
                raise IOError(f"scripted failure on stream {stream}")
            if mode == "reject":
                error = "reject"
            else:
                failed = self.inner.put_records(items, stream)
            return failed
        finally:
            if self.stats_dir is not None:
                self._log(items, stream, failed, error, time.perf_counter() - t0)

    def _log(self, items, stream, failed, error, dur_s):
        rec = {
            "stream": stream,
            "n": len(items),
            "failed": failed,
            "error": error,
            "dur_s": dur_s,
            "chunk": chunk_key(items),
        }
        path = os.path.join(self.stats_dir, f"{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")


class FaultSenderFactory:
    """Picklable zero-arg factory, called once per partition on the
    workers (the ``sender_factory`` contract of ``route_and_deliver``)."""

    def __init__(self, root: str, script: dict[str, str] | None = None,
                 stats_dir: str | None = None):
        self.root = root
        self.script = dict(script or {})
        self.stats_dir = stats_dir
        if stats_dir is not None:
            os.makedirs(stats_dir, exist_ok=True)

    def __call__(self) -> FaultSender:
        return FaultSender(DirSender(self.root), self.script, self.stats_dir)


def chunk_key(items) -> str:
    """Identity of a chunk across its attempts: ``deliver_batch`` hands
    the very same list to every retry and every alt stream."""
    h = hashlib.blake2b(digest_size=8)
    h.update(str(len(items)).encode())
    for pk, payload in (items[0], items[-1]) if items else ():
        h.update(f"{pk}\0{payload}\0".encode())
    return h.hexdigest()


def read_calls(stats_dir: str) -> list[dict]:
    calls = []
    for path in sorted(glob.glob(os.path.join(stats_dir, "*.jsonl"))):
        with open(path) as f:
            calls.extend(json.loads(line) for line in f if line.strip())
    return calls


def aggregate(calls: list[dict], streams_in_order: list[tuple[str, ...]]) -> dict:
    """Writer accounting from the per-call log.

    ``streams_in_order`` lists each filter's (primary, *alts).  A chunk
    is identified per filter by (chunk key, filter); it is *delivered*
    when one of its calls succeeded, *dropped* when every stream of its
    filter failed, and *failed over* when it was sent to an alt."""
    filter_of = {s: i for i, order in enumerate(streams_in_order) for s in order}
    chunks: dict[tuple[str, int], list[dict]] = {}
    for c in calls:
        chunks.setdefault((c["chunk"], filter_of[c["stream"]]), []).append(c)
    retries = failovers = dropped = dropped_chunks = 0
    for (_key, fi), cs in chunks.items():
        primary = streams_in_order[fi][0]
        per_stream: dict[str, int] = {}
        for c in cs:
            per_stream[c["stream"]] = per_stream.get(c["stream"], 0) + 1
        retries += sum(n - 1 for n in per_stream.values())
        if any(s != primary for s in per_stream):
            failovers += 1
        if all(c["failed"] for c in cs):
            dropped += cs[0]["n"]
            dropped_chunks += 1
    ok = [c for c in calls if not c["failed"]]
    return {
        "put_calls": len(calls),
        "records_put": sum(c["n"] for c in ok),
        "put_busy_s": sum(c["dur_s"] for c in calls),
        "retries": retries,
        "failovers": failovers,
        "dropped": dropped,
        "dropped_chunks": dropped_chunks,
        "put_success_ratio": len(ok) / len(calls) if calls else 1.0,
    }

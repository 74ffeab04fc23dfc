"""Independent correctness oracles.

Streaming: a plain-Python reading of the reference's rules over the
generated events, sharing no code with the Spark path --

  V3  msg_type must be 4 (SimpleEvent);
  V7  dest and source must be present (dest checked first);
  V6  fixWrp: empty content_type -> application/json, empty uuid -> a
      fresh uuid, the change named in fix_reason;
  R2  any event regex searches the dest with an ``event:`` prefix
      stripped;
  R3  with device regexes, any of them searches the source or the
      stripped dest;
  R4  a literal ``.*`` device regex clears the device list;
  K4  a chunk goes to the first stream of its filter that accepts it,
      and is dropped when all of them fail.

It yields the exact expected (stream, event) multiset, the rejects and
the drops, which ``check_streaming`` compares with the sink directory
and the reject ledger.

Catalog: each query's rows are reduced to a count and an
order-insensitive hash, compared with the same reduction of its DuckDB
oracle.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import math
import os
import re
from collections import Counter
from dataclasses import dataclass, field

from perfbench.gen import ID_KEY, TS_KEY, parse_rfc3339_ns

LATE_LIMIT_NS = 15 * 1_000_000_000  # DefaultBatchTimeLimitSeconds
DEFAULT_CONTENT_TYPE = "application/json"


@dataclass(frozen=True)
class Route:
    """One filter, as the oracle reads it."""

    streams: tuple[str, ...]  # primary, then alts in failover order
    events: tuple[str, ...]
    device_ids: tuple[str, ...]

    @staticmethod
    def from_config(fc) -> "Route":
        return Route(tuple(fc.streams_in_order), tuple(fc.events), tuple(fc.device_ids))


def reject_reason(ev: dict) -> str:
    if ev.get("msg_type") != 4:
        return "invalid_msg_type"
    if ev.get("dest") is None:
        return "null_dest"
    if ev.get("source") is None:
        return "null_source"
    return ""


def strip_event(dest: str) -> str:
    return dest[len("event:"):] if dest.startswith("event:") else dest


def matches(route: Route, ev: dict) -> bool:
    stripped = strip_event(ev["dest"])
    if not any(re.search(p, stripped) for p in route.events):
        return False
    devices = () if ".*" in route.device_ids else route.device_ids
    if not devices:
        return True
    return any(
        re.search(p, ev["source"]) or re.search(p, stripped) for p in devices
    )


def delivery_stream(route: Route, failing: set[str]) -> str | None:
    """Where a chunk of this filter lands, or None when it is dropped."""
    for s in route.streams:
        if s not in failing:
            return s
    return None


def fix_reason(ev: dict) -> str:
    empty_tx = not ev.get("transaction_uuid")
    empty_ct = not ev.get("content_type")
    if empty_tx and empty_ct:
        return "empty_uuid_and_content_type"
    if empty_tx:
        return "empty_uuid"
    if empty_ct:
        return "empty_content_type"
    return ""


@dataclass
class Expectation:
    streams: Counter  # stream -> expected deliveries
    reject: str  # '' = accepted
    dropped: int  # (event, filter) pairs dropped after failover


def expect(ev: dict, routes: list[Route], failing: set[str]) -> Expectation:
    reason = reject_reason(ev)
    streams: Counter = Counter()
    dropped = 0
    if not reason:
        for r in routes:
            if matches(r, ev):
                s = delivery_stream(r, failing)
                if s is None:
                    dropped += 1
                else:
                    streams[s] += 1
    return Expectation(streams, reason, dropped)


# ----------------------------------------------------------- read-back

def read_sink(sink_root: str) -> list[tuple[str, dict, int]]:
    """Every delivered record as (stream, record, publish_ns); a file's
    publish time is its modification time (DirSender writes, then
    renames)."""
    out = []
    for path in glob.glob(os.path.join(sink_root, "*", "put-*.jsonl")):
        stream = os.path.basename(os.path.dirname(path))
        published = os.stat(path).st_mtime_ns
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                out.append((stream, rec, published))
    return out


def read_ledger(path: str) -> list[dict]:
    """Reject ledger rows, from every batch partition's parquet files
    (``_ingest_batch_id=N`` directories)."""
    import pyarrow.parquet as pq

    rows = []
    for f in glob.glob(os.path.join(path, "_ingest_batch_id=*", "*.parquet")):
        t = pq.read_table(f, columns=["metadata", "reject_reason"])
        rows.extend(
            {"metadata": dict(r["metadata"] or ()), "reject_reason": r["reject_reason"]}
            for r in t.to_pylist()
        )
    return rows


@dataclass
class StreamCheck:
    attempted: int = 0
    failed: int = 0
    failures: Counter = field(default_factory=Counter)
    expected_pairs: int = 0
    delivered_pairs: int = 0
    expected_rejects: int = 0
    expected_fixed: int = 0
    expected_dropped: int = 0
    latency_ms: dict[int, list[float]] = field(default_factory=dict)
    published_ns: dict[int, list[int]] = field(default_factory=dict)

    def summary(self) -> dict:
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": dict(self.failures),
            "expected_pairs": self.expected_pairs,
            "delivered_pairs": self.delivered_pairs,
            "expected_rejects": self.expected_rejects,
            "expected_fixed": self.expected_fixed,
            "expected_dropped": self.expected_dropped,
        }


def check_streaming(
    events: list[dict],
    routes: list[Route],
    failing: set[str],
    sink: list[tuple[str, dict, int]],
    ledger: list[dict] | None,
    untimed: frozenset[str] = frozenset(),
) -> StreamCheck:
    """Compare the sink (and the ledger, when given) with the oracle.

    An event fails when it is missing from a stream it belongs in,
    delivered to a stream it does not belong in, delivered more often
    than expected, delivered later than 15 s after its creation stamp,
    has a wrong fixWrp result, or --
    with a ledger -- is missing from it or in it with a wrong reason.
    Events whose id is in ``untimed`` (published before the router
    started) are not checked for lateness.
    Each delivery's latency is kept per event id."""
    by_id: dict[str, list[tuple[str, dict, int]]] = {}
    stray = 0
    for stream, rec, published in sink:
        data = json.loads(rec["data"])
        bid = (data.get("metadata") or {}).get(ID_KEY)
        if bid is None:
            stray += 1
            continue
        by_id.setdefault(bid, []).append((stream, data, published))
    ledger_by_id: dict[str, list[str]] = {}
    for row in ledger or ():
        ledger_by_id.setdefault(row["metadata"].get(ID_KEY), []).append(
            row["reject_reason"]
        )

    chk = StreamCheck()
    known = set()
    for ev in events:
        bid = ev["metadata"][ID_KEY]
        known.add(bid)
        exp = expect(ev, routes, failing)
        chk.attempted += 1
        chk.expected_pairs += sum(exp.streams.values())
        chk.expected_dropped += exp.dropped
        if exp.reject:
            chk.expected_rejects += 1
        elif fix_reason(ev):
            chk.expected_fixed += 1
        got = by_id.get(bid, [])
        chk.delivered_pairs += len(got)
        kinds = set()
        got_streams = Counter(s for s, _, _ in got)
        for s, n in got_streams.items():
            if s not in exp.streams:
                kinds.add("misrouted")
            elif n > exp.streams[s]:
                kinds.add("duplicated")
        if any(got_streams[s] < n for s, n in exp.streams.items()):
            kinds.add("missing")
        created = parse_rfc3339_ns(ev["metadata"][TS_KEY])
        lats = chk.latency_ms.setdefault(int(bid), [])
        pubs = chk.published_ns.setdefault(int(bid), [])
        for _s, data, published in got:
            lat = published - created
            if lat > LATE_LIMIT_NS and bid not in untimed:
                kinds.add("late")
            lats.append(lat / 1e6)
            pubs.append(published)
            if not _fixed_ok(ev, data):
                kinds.add("bad_fix")
        if ledger is not None:
            reasons = ledger_by_id.get(bid, [])
            if exp.reject and reasons != [exp.reject]:
                kinds.add("bad_reject")
            elif not exp.reject and reasons:
                kinds.add("bad_reject")
        if kinds:
            chk.failed += 1
            chk.failures.update(kinds)
    unknown = stray + sum(len(v) for k, v in by_id.items() if k not in known)
    if unknown:  # output that no generated event explains
        chk.failed += unknown
        chk.attempted += unknown
        chk.failures["unknown_output"] += unknown
    return chk


def _fixed_ok(ev: dict, out: dict) -> bool:
    want_ct = ev.get("content_type") or DEFAULT_CONTENT_TYPE
    if out.get("content_type") != want_ct or out.get("fix_reason") != fix_reason(ev):
        return False
    if ev.get("transaction_uuid"):
        return out.get("transaction_uuid") == ev["transaction_uuid"]
    return bool(out.get("transaction_uuid"))


# --------------------------------------------------------------- catalog

def canon(v) -> str:
    """Value canonical form for hashing; floats to 9 significant digits
    (engines sum in different orders, so the last bits may differ)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}" if v != 0 else "0"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns taken in name
    order, so column order does not matter either."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def duckdb_digests(sf_dir: str, sql_by_query: dict[str, str]) -> dict[str, tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sql_by_query.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = result_digest(cols, cur.fetchall())
        return out
    finally:
        con.close()

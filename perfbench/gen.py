"""Seeded input generation: WRP event files, filter configs and the
catalog tables.

Everything the router or the catalog reads is made here from the
workload seed, so the same seed gives byte-identical inputs.  Event
files are JSON lines in the ``WRP_SCHEMA`` shape; each event carries
its creation time in ``metadata["/xmidt-timestamp"]`` (RFC 3339 with
nanoseconds, UTC) and a benchmark id in ``metadata["/bench-id"]`` so
the oracle can follow it through routing and delivery.
"""

from __future__ import annotations

import base64
import json
import os
import random
from datetime import datetime, timezone

TS_KEY = "/xmidt-timestamp"
ID_KEY = "/bench-id"

# (event type, weight): the dest is event:<type>/user-<uid>/<sub>
EVENT_TYPES = (
    ("purchase", 12), ("purchase-refund", 3), ("checkout", 8), ("click", 20),
    ("view", 20), ("signup", 7), ("error", 10), ("device-status", 15),
    ("online", 5),
)
_TYPES = [t for t, _ in EVENT_TYPES]
_WEIGHTS = [w for _, w in EVENT_TYPES]
SUBTYPES = ("v", "ack", "status", "config")
N_USERS = 2000

# Share of events that break V3 (msg_type != 4), V7 (null source) and
# that need fixWrp (empty uuid / content_type); see make_event.
P_BAD_MSG_TYPE = 0.05
P_NULL_SOURCE = 0.01
P_EMPTY_UUID = 0.05
P_EMPTY_CT = 0.05


def rfc3339_ns(ns: int) -> str:
    sec, frac = divmod(ns, 1_000_000_000)
    base = datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return f"{base}.{frac:09d}Z"


def parse_rfc3339_ns(s: str) -> int:
    base, frac = s.rstrip("Z").split(".")
    dt = datetime.strptime(base, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000 + int(frac.ljust(9, "0"))


def make_event(rng: random.Random, event_id: int, created_ns: int) -> dict:
    """One WRP event.  About 5% have a msg_type other than 4, 1% a null
    source, and about 10% an empty uuid or content_type."""
    uid = rng.randrange(N_USERS)
    etype = rng.choices(_TYPES, _WEIGHTS)[0]
    sub = SUBTYPES[rng.randrange(len(SUBTYPES))]
    msg_type = 4 if rng.random() >= P_BAD_MSG_TYPE else rng.choice((3, 5, 6, 8))
    source = None if rng.random() < P_NULL_SOURCE else f"mac:{uid * 7919 % 10**12:012d}"
    uuid = "" if rng.random() < P_EMPTY_UUID else f"{rng.getrandbits(128):032x}"
    ct = "" if rng.random() < P_EMPTY_CT else "application/json"
    return {
        "msg_type": msg_type,
        "source": source,
        "dest": f"event:{etype}/user-{uid}/{sub}",
        "transaction_uuid": uuid,
        "content_type": ct,
        "session_id": f"session-{uid}",
        "partner_ids": ["comcast", f"partner-{uid % 5}"],
        "metadata": {TS_KEY: rfc3339_ns(created_ns), ID_KEY: str(event_id)},
        "payload": base64.b64encode(f'{{"n":{event_id}}}'.encode()).decode(),
    }


class EventStream:
    """Deterministic event sequence: file ``k`` always holds the same
    events for the same seed, whatever order files are asked for in."""

    def __init__(self, seed: int, events_per_file: int):
        self.seed = seed
        self.events_per_file = events_per_file

    def events(self, k: int, created_ns) -> list[dict]:
        """Events of file ``k``; ``created_ns(i)`` stamps event ``i``."""
        rng = random.Random(self.seed * 1_000_003 + k)
        first = k * self.events_per_file
        return [
            make_event(rng, first + i, created_ns(i))
            for i in range(self.events_per_file)
        ]


def publish(events: list[dict], directory: str, name: str) -> str:
    """Write a JSON-lines file and publish it by atomic rename (the
    file source never sees a half-written file)."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, name)
    tmp = os.path.join(os.path.dirname(directory), f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")
    os.rename(tmp, path)
    return path


# --------------------------------------------------------------- configs

def reference_yaml() -> str:
    """The 3-filter reference-shaped config: the ``DEFAULT_FILTERS``
    shape in the streams_only.yaml document layout, plus an alt stream
    for purchases so that a dropped chunk has failed over first."""
    return """\
filter_manager:
  default_queue_size: 1000
  default_batch_size: 100
  default_max_workers: 1000
  filters:
    - stream:
        stream_name: purchases-stream
        config_items:
          - {key: region, value: local}
      events: ["purchase.*", "checkout"]
      alt_streams: [purchases-stream-alt]
      dest_type: dir
    - stream:
        stream_name: engagement-stream
      events: ["click", "view"]
      metadata:
        device_ids: ["user-1.*"]
      alt_streams: [engagement-stream-alt]
      dest_type: dir
    - stream:
        stream_name: firehose-stream
      events: [".*"]
      metadata:
        device_ids: [".*"]
      dest_type: dir
"""


# Fault script for steady_route: the engagement stream's primary always
# fails (each chunk is tried 3 times, then goes to its alt); the
# purchases stream fails on primary and alt (its chunks are dropped and
# counted).
def steady_fault_script() -> dict[str, str]:
    return {
        "engagement-stream": "raise",
        "purchases-stream": "raise",
        "purchases-stream-alt": "reject",
    }


# --------------------------------------------------------------- catalog

def write_catalog_tables(out_dir: str, seed: int, scale: float = 0.1) -> dict:
    """The ten catalog tables (TPC-H-like star schema plus events,
    documents and embeddings) as single-file parquet, in the column
    layout the catalog queries read.  Returns {table: rows}."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = n_ord * 4, int(1_000_000 * scale)
    # the repo's test tables keep at least 500 documents and embeddings
    # and have 5,000 and 2,000 at scale 0.1
    n_docs, n_emb = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))

    def day(start: str, n_days: int, size: int):
        return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, size), "D")

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["large", "small", "hot", "cold", "blue", "old", "red", "new"], n_part),
                    rng.choice(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "box"], n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": day("1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": day("1995-01-02", 2498, n_line),
        }),
    }
    ev_ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)), "us")
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev).astype("int64"),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = ("spark window merge table column vector stream value data small join "
             "filter big group hash customer sort order slow line part fast row the "
             "agg key query a scan batch").split()
    texts = [
        " ".join(rng.choice(vocab, rng.integers(8, 90)))
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):  # near-duplicates
        texts[i] = texts[(i + 1) % n_docs] + " dup"
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "zh", "es", "fr", "de"], n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    emb = rng.normal(size=(n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    for name, df in tables.items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            t = t.set_column(1, "embedding", pa.array(
                [v.tolist() for v in emb], type=pa.list_(pa.float32())))
        # microsecond timestamps, one row group per table (the layout
        # the catalog's scan_fanout decision is made for)
        t = t.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in t.schema
        ]))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: len(df) for name, df in tables.items()}

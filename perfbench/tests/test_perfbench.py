"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.faultsender import FaultSenderFactory, aggregate, read_calls  # noqa: E402
from perfbench.metrics import END_TO_END, HIGHER_IS_BETTER, PER_LAYER  # noqa: E402
from perfbench.stats import TooFewSamples, median, percentile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ev(i, dest="event:click/user-12/v", source="mac:000000000012", msg_type=4,
        uuid="abc", ct="application/json", ts_ns=1_000_000_000):
    return {
        "msg_type": msg_type, "source": source, "dest": dest,
        "transaction_uuid": uuid, "content_type": ct, "session_id": "s",
        "metadata": {gen.TS_KEY: gen.rfc3339_ns(ts_ns), gen.ID_KEY: str(i)},
    }


# ------------------------------------------------------------- oracle

ROUTES = [
    oracle.Route(("purchases",), ("purchase.*", "checkout"), ()),
    oracle.Route(("engage", "engage-alt"), ("click", "view"), ("user-1.*",)),
    oracle.Route(("fire",), (".*",), (".*",)),
    oracle.Route(("src-only",), ("click",), ("^mac:0+12$",)),
]


@pytest.mark.parametrize("dest,source,want", [
    # R2 strips event: then searches unanchored; R3 device on dest
    ("event:click/user-12/v", "mac:000000000012", {"engage", "fire", "src-only"}),
    # device regex fails on both source and stripped dest
    ("event:click/user-22/v", "mac:000000000022", {"fire"}),
    # purchase.* matches purchase-refund; no device list = pass-all
    ("event:purchase-refund/user-2/v", "mac:000000000002", {"purchases", "fire"}),
    # no event: prefix: nothing stripped, the dest is searched as is
    ("mac:1/checkout", "mac:1", {"purchases", "fire"}),
    # device regex matched on the source only
    ("event:view/user-3/v", "user-1x", {"engage", "fire"}),
])
def test_oracle_routes_by_hand(dest, source, want):
    ev = _ev(0, dest=dest, source=source)
    got = {r.streams[0] for r in ROUTES if oracle.matches(r, ev)}
    assert got == want


def test_oracle_wildcard_device_is_elided():
    # ".*" among other device patterns clears the whole list (R4)
    r = oracle.Route(("s",), ("x",), ("nomatch", ".*"))
    assert oracle.matches(r, _ev(0, dest="event:x/none", source="mac:0"))


@pytest.mark.parametrize("ev,reason", [
    (_ev(0, msg_type=3), "invalid_msg_type"),
    (_ev(0, msg_type=3, dest=None), "invalid_msg_type"),  # V3 first
    (_ev(0, dest=None, source=None), "null_dest"),  # then dest, then source
    (_ev(0, source=None), "null_source"),
    (_ev(0), ""),
])
def test_oracle_rejects(ev, reason):
    assert oracle.reject_reason(ev) == reason


def test_oracle_failover_and_drop():
    ev = _ev(0)
    exp = oracle.expect(ev, ROUTES, failing={"engage"})
    assert exp.streams == Counter({"engage-alt": 1, "fire": 1, "src-only": 1})
    exp = oracle.expect(ev, ROUTES, failing={"engage", "engage-alt"})
    assert exp.dropped == 1 and "engage-alt" not in exp.streams


def _sink_rec(ev, **fix):
    data = dict(ev, content_type=ev["content_type"] or "application/json",
                fix_reason=oracle.fix_reason(ev), **fix)
    return {"partition_key": "s", "data": json.dumps(data)}


def _good_sink(events, routes, failing, published_ns=2_000_000_000):
    out = []
    for ev in events:
        for s, n in oracle.expect(ev, routes, failing).streams.items():
            out += [(s, _sink_rec(ev), published_ns)] * n
    return out


def test_check_streaming_accepts_the_right_output():
    evs = [_ev(0), _ev(1, dest="event:purchase/user-5/v"), _ev(2, msg_type=5)]
    chk = oracle.check_streaming(evs, ROUTES, set(), _good_sink(evs, ROUTES, set()), None)
    assert (chk.attempted, chk.failed) == (3, 0)
    assert chk.expected_rejects == 1
    assert chk.latency_ms[0] == [1000.0] * 3


@pytest.mark.parametrize("mutate,kind", [
    (lambda s: s[1:], "missing"),
    (lambda s: s + s[:1], "duplicated"),
    (lambda s: [("purchases", *s[0][1:])] + s[1:], "misrouted"),
    (lambda s: [(s[0][0], s[0][1], 17_000_000_000)] + s[1:], "late"),
    (lambda s: [(s[0][0], _sink_rec(_ev(0), transaction_uuid="other"), s[0][2])] + s[1:],
     "bad_fix"),
    (lambda s: s + [("fire", {"partition_key": "x", "data": "{}"}, 0)], "unknown_output"),
])
def test_wrong_sink_output_raises_error_rate(mutate, kind):
    evs = [_ev(0), _ev(1, dest="event:view/user-100/v")]
    sink = mutate(_good_sink(evs, ROUTES, set()))
    chk = oracle.check_streaming(evs, ROUTES, set(), sink, None)
    assert chk.failed > 0 and chk.failed / chk.attempted > 0
    assert kind in chk.failures


def test_untimed_events_are_not_late():
    evs = [_ev(0), _ev(1, dest="event:view/user-100/v")]
    sink = [(s, r, 17_000_000_000) for s, r, _ in _good_sink(evs, ROUTES, set())]
    assert oracle.check_streaming(evs, ROUTES, set(), sink, None).failures["late"] == 2
    chk = oracle.check_streaming(evs, ROUTES, set(), sink, None, frozenset({"0"}))
    assert (chk.failed, chk.failures["late"]) == (1, 1)


def test_ledger_must_hold_exactly_the_rejects():
    evs = [_ev(0, msg_type=3), _ev(1)]
    sink = _good_sink(evs, ROUTES, set())
    good = [{"metadata": {gen.ID_KEY: "0"}, "reject_reason": "invalid_msg_type"}]
    assert oracle.check_streaming(evs, ROUTES, set(), sink, good).failed == 0
    wrong = [{"metadata": {gen.ID_KEY: "0"}, "reject_reason": "null_source"}]
    assert oracle.check_streaming(evs, ROUTES, set(), sink, wrong).failures["bad_reject"] == 1
    assert oracle.check_streaming(evs, ROUTES, set(), sink, []).failed == 1


def test_result_digest_ignores_row_and_column_order():
    a = oracle.result_digest(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = oracle.result_digest(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b and a[0] == 2
    assert oracle.result_digest(["x"], [(1,)]) != oracle.result_digest(["x"], [(2,)])


# ---------------------------------------------------------- generator

def test_generator_is_deterministic_and_shaped():
    a = gen.EventStream(7, 500).events(3, lambda i: 10**18 + i)
    b = gen.EventStream(7, 500).events(3, lambda i: 10**18 + i)
    assert a == b
    assert a != gen.EventStream(8, 500).events(3, lambda i: 10**18 + i)
    ids = [int(e["metadata"][gen.ID_KEY]) for e in a]
    assert ids == list(range(1500, 2000))
    bad = sum(e["msg_type"] != 4 for e in a) / len(a)
    assert 0.01 < bad < 0.1
    assert gen.parse_rfc3339_ns(a[5]["metadata"][gen.TS_KEY]) == 10**18 + 5


def test_trigger_start_is_read_in_utc_milliseconds():
    from perfbench.streaming import trigger_start_ns

    assert trigger_start_ns({"timestamp": "1970-01-01T00:00:01.234Z"}) == 1_234_000_000
    ns = trigger_start_ns({"timestamp": "2026-10-17T14:20:00.001Z"})
    assert gen.rfc3339_ns(ns) == "2026-10-17T14:20:00.001000000Z"


# ------------------------------------------------------------- stats

def test_percentile_reports_count_and_refuses_thin_tails():
    xs = list(range(1, 1001))
    assert percentile(xs, 99) == {"value": 990.0, "n": 1000}
    assert median([3, 1, 2]) == {"value": 2.0, "n": 3}
    assert median([1, 2, 3, 4])["value"] == 2.5
    with pytest.raises(TooFewSamples):
        percentile(list(range(1000 - 1)), 99)  # 9 beyond p99
    with pytest.raises(TooFewSamples):
        percentile([], 50)


# ------------------------------------------------------- fault sender

def test_fault_sender_script_and_accounting(tmp_path):
    from xmidt_event_streams_spark.sinks.writer import deliver_batch

    sink, stats = str(tmp_path / "sink"), str(tmp_path / "stats")
    script = {"a": "raise", "b": "reject", "c": "raise", "c-alt": "reject"}
    sender = FaultSenderFactory(sink, script, stats)()
    items = [(str(i), f"p{i}") for i in range(1200)]  # 3 chunks of <= 500
    orders = [("a", "a-alt"), ("b", "b-alt"), ("c", "c-alt"), ("d",)]
    results = [deliver_batch(items, o, sender, retry_interval_s=0) for o in orders]
    assert [r.dropped for r in results] == [0, 0, 1200, 0]
    assert sorted(os.listdir(sink)) == ["a-alt", "b-alt", "d"]
    acc = aggregate(read_calls(stats), orders)
    # a, b, c primaries: 3 chunks x 3 attempts; c-alt: 3 x 3; the rest 1
    assert acc["put_calls"] == 3 * 3 * 3 + 3 * 3 + 3 * 3
    assert acc["retries"] == 4 * 3 * 2
    assert acc["failovers"] == 9
    assert acc["dropped"] == 1200 and acc["dropped_chunks"] == 3
    assert acc["records_put"] == 3 * 1200
    with pytest.raises(ValueError):
        FaultSenderFactory(sink, {"a": "explode"})()


def test_steady_script_fails_over_one_stream_and_drops_another(tmp_path):
    from xmidt_event_streams_spark.config import load_filter_configs_yaml

    path = tmp_path / "streams.yaml"
    path.write_text(gen.reference_yaml())
    routes = [oracle.Route.from_config(fc) for fc in load_filter_configs_yaml(str(path))]
    failing = set(gen.steady_fault_script())
    landing = {r.streams[0]: oracle.delivery_stream(r, failing) for r in routes}
    assert landing == {"purchases-stream": None,
                       "engagement-stream": "engagement-stream-alt",
                       "firehose-stream": "firehose-stream"}


# ------------------------------------------------------ BENCHMARK.json

def test_benchmark_json_lists_the_metrics_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, names in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == names
        for m in spec[key]:
            want = "higher" if m["name"] in HIGHER_IS_BETTER else "lower"
            assert m["better"] == want, m["name"]
    names = [w["name"] for w in spec["workloads"]]
    from perfbench.run import WORKLOADS

    assert tuple(names) == WORKLOADS

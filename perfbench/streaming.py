"""steady_route: ``app.run_app`` end to end under an open loop.

One generator thread publishes one JSON file of 1,000 WRP events per
second (atomic rename) on a fixed wall-clock schedule.  ``run_app``
runs the 3-filter reference-shaped config with a trigger every
``TRIGGER_SECONDS``, the reject ledger on and directory delivery
through the fault sender: the engagement stream's primary always fails
(3 tries, then its alt) and the purchases stream fails on primary and
alt (its chunks are dropped and counted).

The trigger interval is longer than one trigger takes on a 4-core host,
and the schedule is aligned to it: processing-time triggers
fire on multiples of the interval, so every run sees the same files in
the same batches.  With a 1 s
trigger the triggers ran back to back, each batch held whatever arrived
during the last one, and the run-to-run spread of creation-to-delivery
latency reached 0.243 of its median.

Set-up -- session start, config compile, query start and the warm-up
trigger -- runs ``SETUPS`` times, each on a fresh session in the same
JVM, and ``setup_s`` is their median: only the first also pays process
and JVM start, which alone spread too much from run to run to gate.
The last set-up's query is the one measured: one continuous open loop
of ``WARM_SECONDS`` unmeasured, ``--seconds`` measured and one trigger
interval unmeasured, so that the measured batches run in steady state
and are full.  With tracing on, the measured
phase runs twice on that query, untraced and then traced, and the
tracing overhead is the difference of the two.

The gated latency is the part the router controls: from the start of
the trigger that read an event's file to the publish time of the sink
file that holds it.  Creation to delivery also includes the wait for
the next trigger tick, which the schedule fixes (0.5-4.5 s), and is
printed as ``deliver_p50_ms``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timezone

from perfbench import gen, oracle
from perfbench.common import batch_files, commit_times_ns
from perfbench.faultsender import FaultSenderFactory, aggregate, read_calls
from perfbench.stats import TooFewSamples, median, percentile
from perfbench.trace import Tracer

SETUPS = 3
RATE = 1000  # events per second, one file per second
TRIGGER_SECONDS = 4
# open-loop seconds run before the measured files: the first triggers
# after set-up are still slower (JIT), and are not steady state
WARM_SECONDS = TRIGGER_SECONDS
WARM_FILE = 10**6  # index of the first warm-up file
ENGINE_FIELDS = {
    "addBatch": "engine.add_batch_ms",
    "queryPlanning": "engine.query_planning_ms",
    "walCommit": "engine.wal_commit_ms",
    "commitOffsets": "engine.commit_offsets_ms",
    "latestOffset": "source.latest_offset_ms",
    "getBatch": "source.get_batch_ms",
}
# the library calls run_app makes through its own module's names
APP_CALLS = {
    "classify_rejects": "enrich.classify_rejects",
    "fix_wrp": "enrich.fix_wrp",
    "idempotent_batch_append": "ledger.append",
    "route_and_deliver": "writer.route_and_deliver",
}


class Steady:
    def __init__(self, run):
        from xmidt_event_streams_spark.app import resolve_config

        self.run = run
        self.stream = gen.EventStream(run.seed, RATE)
        self.script = gen.steady_fault_script()
        self.tracer = Tracer()
        self.config = run.path("streams.yaml")
        with open(self.config, "w") as f:
            f.write(gen.reference_yaml())
        self.filters = resolve_config(self.config)
        self.routes = [oracle.Route.from_config(fc) for fc in self.filters]

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        run = self.run
        times, session = [], []
        for i in range(SETUPS):
            t_start = run.t0 if i == 0 else time.perf_counter()
            run.stop_spark()
            t = time.perf_counter()
            run.start_spark()
            session.append(time.perf_counter() - t)
            self.dirs = {k: run.path(f"setup{i}", k)
                         for k in ("src", "ckpt", "sink", "rejects", "sends")}
            self.events: dict[str, list[dict]] = {}  # file -> its events
            self.published_ns: dict[str, int] = {}
            self.next_file = 0
            self.factory = FaultSenderFactory(self.dirs["sink"], self.script)
            self.warm_up_file = f"f{WARM_FILE + i:08d}.json"
            self.publish(self.warm_up_file,
                         self.stream.events(WARM_FILE + i, lambda _i: time.time_ns()))
            self.query = self.start_query()
            self.wait_all_committed()
            times.append(time.perf_counter() - t_start)
        run.put("setup_s", median(times)["value"], "s", len(times))
        run.info["setup_each_s"] = times
        self.session_start = median(session)

    def start_query(self):
        from xmidt_event_streams_spark.app import run_app

        d = self.dirs
        return run_app(
            self.run.spark, self.config, d["src"], d["ckpt"],
            sender_factory=self.factory, rejects_path=d["rejects"],
            trigger_seconds=TRIGGER_SECONDS, query_name="steady_route",
        )

    def publish(self, name: str, events: list[dict]) -> None:
        gen.publish(events, self.dirs["src"], name)
        self.published_ns[name] = time.time_ns()
        self.events[name] = events

    def committed_files(self) -> dict[str, int]:
        """file -> batch id, for the files of committed batches."""
        commits = commit_times_ns(self.dirs["ckpt"])
        return {f: b for b, fs in batch_files(self.dirs["ckpt"]).items()
                if b in commits for f in fs}

    def wait_all_committed(self, timeout_s: float = 60.0) -> None:
        deadline = time.monotonic() + timeout_s
        while not set(self.events) <= set(self.committed_files()):
            if self.query.exception() is not None:
                raise RuntimeError(f"query failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError("published files not committed in time")
            time.sleep(0.01)

    def jobs(self) -> int:
        """Jobs in the query's run-id job group."""
        tracker = self.run.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(str(self.query.runId)))

    # ------------------------------------------------------- measurement
    def phase(self, seconds: int, head: int = 0) -> dict:
        """Publish one file a second for ``head + seconds`` seconds and
        one trigger interval more, then wait until the router has
        committed them all.  The files of the ``seconds`` after the head
        are the measured ones."""
        first = self.next_file
        total = head + seconds + TRIGGER_SECONDS
        self.next_file += total
        jobs0 = self.jobs()
        # file j is due half a second after a whole second, starting
        # just after a trigger tick, so each tick takes the files of the
        # interval before it; its events are created over the second
        # before it is due
        period = TRIGGER_SECONDS * 10**9
        origin = ((time.time_ns() + 6 * 10**8) // period + 1) * period - 5 * 10**8
        gap = 10**9 // RATE
        late, names, errors = [], [], []

        def generate():
            try:
                for j in range(total):
                    start = origin + j * 10**9
                    evs = self.stream.events(first + j, lambda i, s=start: s + i * gap)
                    due = start + 10**9
                    wait = (due - time.time_ns()) / 1e9
                    if wait > 0:
                        time.sleep(wait)
                    name = f"f{first + j:08d}.json"
                    self.publish(name, evs)
                    late.append((self.published_ns[name] - due) / 1e6)
                    names.append(name)
            except Exception as exc:  # re-raised below, in the caller
                errors.append(exc)

        th = threading.Thread(target=generate, name="generator")
        th.start()
        th.join(total + 60)
        if th.is_alive() or errors:
            raise RuntimeError(f"generator failed: {errors or 'did not finish'}")
        self.wait_all_committed()
        return {"all_files": set(names), "measured": set(names[head:head + seconds]),
                "jobs": self.jobs() - jobs0, "generator_late_ms": late}

    def measure(self) -> None:
        run = self.run
        # whole trigger intervals, so that every batch holds as many files
        seconds = -(-run.seconds // TRIGGER_SECONDS) * TRIGGER_SECONDS
        self.phases = {"plain": self.phase(seconds, head=WARM_SECONDS)}
        if run.trace:
            from xmidt_event_streams_spark import app
            from xmidt_event_streams_spark.streaming.metrics import GaugeListener

            self.gauges = GaugeListener()
            run.spark.streams.addListener(self.gauges)
            os.makedirs(self.dirs["sends"], exist_ok=True)
            self.factory.stats_dir = self.dirs["sends"]  # pickled per job
            self.tracer.trace_id = "traced-phase"
            try:
                with self.tracer.patch(app, APP_CALLS):
                    self.phases["traced"] = self.phase(seconds, head=WARM_SECONDS)
            finally:
                self.factory.stats_dir = None
                run.spark.streams.removeListener(self.gauges)
        run.put_peak_rss()
        self.batch_of = self.committed_files()
        self.batch_rows: dict[int, int] = {}  # generated events per batch
        for f, b in self.batch_of.items():
            self.batch_rows[b] = self.batch_rows.get(b, 0) + len(self.events.get(f, ()))
        # one event per batch that read data (idle triggers post events
        # with no input rows)
        progress = {p["batchId"]: p
                    for p in self.progress_through(max(self.batch_of.values()))
                    if p["numInputRows"] > 0}
        self.query.stop()
        run.info["trigger_ms_all"] = [progress[b]["durationMs"]["triggerExecution"]
                                      for b in sorted(progress)]
        files_of: dict[int, set[str]] = {}
        for f, b in self.batch_of.items():
            files_of.setdefault(b, set()).add(f)
        for ph in self.phases.values():
            # batches of measured files only: after a trigger outlasts
            # its interval, an edge batch can also hold head or tail files
            batches = sorted(b for b in {self.batch_of[f] for f in ph["measured"]}
                             if files_of[b] <= ph["measured"])
            ph["progress"] = [progress[b] for b in batches]
            ph["files"] = set().union(*(files_of[b] for b in batches))
            ph["n_batches"] = len({self.batch_of[f] for f in ph["all_files"]})

    def progress_through(self, batch_id: int, timeout_s: float = 30.0) -> list[dict]:
        """The query's progress events up to ``batch_id``: a batch's
        event is posted a little after its commit."""
        deadline = time.monotonic() + timeout_s
        while True:
            progress = [json.loads(p.json) for p in self.query.recentProgress]
            if any(p["batchId"] >= batch_id for p in progress):
                return progress
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress event for batch {batch_id}")
            time.sleep(0.02)

    def verify(self) -> oracle.StreamCheck:
        evs = [e for name in sorted(self.events) for e in self.events[name]]
        sink = oracle.read_sink(self.dirs["sink"])
        ledger = oracle.read_ledger(self.dirs["rejects"])
        self.ledger_rows = len(ledger)
        # the warm-up file is published before the query starts; the
        # time to its delivery is set-up, which setup_s measures
        warm_up = frozenset(e["metadata"][gen.ID_KEY] for e in self.events[self.warm_up_file])
        return oracle.check_streaming(evs, self.routes, set(self.script), sink, ledger, warm_up)

    def phase_ids(self, ph: dict) -> set[int]:
        return {int(e["metadata"][gen.ID_KEY]) for f in ph["files"] for e in self.events[f]}

    def run_latencies_ms(self, chk: oracle.StreamCheck, ph: dict) -> list[float]:
        """Start of the trigger that read each event's file to the
        publish time of each sink file that holds the event."""
        start_ns = {p["batchId"]: trigger_start_ns(p) for p in ph["progress"]}
        out = []
        for f in ph["files"]:
            t0 = start_ns[self.batch_of[f]]
            for e in self.events[f]:
                out.extend((pub - t0) / 1e6
                           for pub in chk.published_ns.get(int(e["metadata"][gen.ID_KEY]), ()))
        return out

    def report(self, chk: oracle.StreamCheck) -> None:
        """End-to-end metrics from the untraced phase."""
        for ph in self.phases.values():
            ph["p50"] = median(self.run_latencies_ms(chk, ph))
        run, ph = self.run, self.phases["plain"]
        run.put("latency_p50_ms", ph["p50"]["value"], "ms", ph["p50"]["n"])
        # per measured trigger: the generated events it read over its run
        # time; the median, since one trigger slowed by CPU steal moved a
        # ratio of sums over ten seeds by 0.28 of its median, this by 0.19
        trig = [p["durationMs"]["triggerExecution"] for p in ph["progress"]]
        rate = median([self.batch_rows[p["batchId"]] / (ms / 1000)
                       for p, ms in zip(ph["progress"], trig)])
        run.put("throughput_per_s", rate["value"], "1/s", rate["n"])
        deliver = [x for i in self.phase_ids(ph) for x in chk.latency_ms.get(i, ())]
        run.info["deliver_p50_ms"] = median(deliver)
        try:
            run.info["deliver_p99_ms"] = percentile(deliver, 99)
        except TooFewSamples as exc:
            run.info["deliver_p99_ms"] = str(exc)
        run.info["trigger_p50_ms"] = median(trig)
        run.info["trigger_ms_each"] = trig
        run.info["generator_late_ms_max"] = max(ph["generator_late_ms"])

    # ------------------------------------------------------------ layers
    def layers(self, chk: oracle.StreamCheck) -> None:
        run, ph = self.run, self.phases["traced"]
        progs = ph["progress"]
        run.put("session.start_s", self.session_start["value"], "s", self.session_start["n"])
        for field, name in ENGINE_FIELDS.items():
            m = median([p["durationMs"].get(field, 0) for p in progs])
            run.put(name, m["value"], "ms", m["n"])
        gen_rows = sum(self.batch_rows[p["batchId"]] for p in progs)
        read_rows = sum(p["numInputRows"] for p in progs)
        run.put("source.scan_ratio", read_rows / gen_rows, "ratio", len(progs))
        run.put("source.lag_files", self.max_lag_files(ph["all_files"]), "count")

        # M4 (numInputRows) and M5 (observed rows) over the true rows
        batches = {p["batchId"] for p in progs}
        ratios: dict[str, list[float]] = {"queue_waiting_events": [], "queue_batch_size": []}
        for r in self.gauges.records():
            if r.batch_id in batches and r.gauge in ratios:
                ratios[r.gauge].append(r.value / self.batch_rows[r.batch_id])
        for gauge, name in (("queue_waiting_events", "gauges.waiting_ratio"),
                            ("queue_batch_size", "gauges.batch_size_ratio")):
            xs = ratios[gauge]
            run.put(name, median(xs)["value"] if xs else 0.0, "ratio", len(xs))
        run.put("writer.jobs_per_trigger", ph["jobs"] / ph["n_batches"], "count",
                ph["n_batches"])

        acc = aggregate(read_calls(self.dirs["sends"]),
                        [fc.streams_in_order for fc in self.filters])
        for k in ("put_calls", "records_put", "retries", "failovers", "dropped"):
            run.put(f"writer.{k}", acc[k], "count")
        run.put("writer.put_busy_s", acc["put_busy_s"], "s", acc["put_calls"])
        run.put("writer.put_success_ratio", acc["put_success_ratio"], "ratio", acc["put_calls"])
        # the fault sender counted every batch of the phase
        sel = [e for f in sorted(ph["all_files"]) for e in self.events[f]]
        want_drop = sum(oracle.expect(e, self.routes, set(self.script)).dropped for e in sel)
        count_check(chk, "writer_dropped", acc["dropped"], want_drop)

        tr = self.tracer
        run.put("ledger.rows", self.ledger_rows, "count")
        run.put("ledger.busy_s", tr.busy_s("ledger.append"), "s", tr.count("ledger.append"))
        self.static_layers(chk, ph["all_files"], sel)
        run.put("trace.overhead_ms", ph["p50"]["value"] - self.phases["plain"]["p50"]["value"], "ms")

    def max_lag_files(self, files: set[str]) -> int:
        """The most published-but-uncommitted files, sampled at each
        publish."""
        commits = commit_times_ns(self.dirs["ckpt"])
        done = {f: commits[b] for f, b in self.committed_files().items()}
        lag = 0
        for f in files:
            t = self.published_ns[f]
            pub = sum(1 for g in files if self.published_ns[g] <= t)
            com = sum(1 for g in files if done[g] <= t)
            lag = max(lag, pub - com)
        return lag

    def static_layers(self, chk, files: set[str], sel: list[dict]) -> None:
        """enrich, routing and deliver_batch timed on their own over the
        traced phase's input (the noop sink for the Spark layers)."""
        from pyspark.sql import functions as F

        from xmidt_event_streams_spark.enrich import classify_rejects, fix_wrp
        from xmidt_event_streams_spark.routing import compile_filters, route_union
        from xmidt_event_streams_spark.schema import WRP_SCHEMA
        from xmidt_event_streams_spark.sinks.writer import deliver_batch

        run = self.run
        paths = [os.path.join(self.dirs["src"], f) for f in sorted(files)]
        df = run.spark.read.schema(WRP_SCHEMA).json(paths).cache()
        n = df.count()
        t = time.perf_counter()
        tagged = classify_rejects(df, required_cols=("dest", "source"))
        enriched = fix_wrp(
            tagged.filter(F.col("reject_reason") == "").drop("reject_reason")
        )
        enriched.write.format("noop").mode("overwrite").save()
        run.put("enrich.busy_s", time.perf_counter() - t, "s")
        rejects = tagged.filter(F.col("reject_reason") != "").count()
        fixed = enriched.filter(F.col("fix_reason") != "").count()
        run.put("enrich.rejects", rejects, "count")
        run.put("enrich.fixed", fixed, "count")
        want_rej = sum(1 for e in sel if oracle.reject_reason(e))
        want_fix = sum(1 for e in sel if not oracle.reject_reason(e) and oracle.fix_reason(e))
        count_check(chk, "enrich_rejects", rejects, want_rej)
        count_check(chk, "enrich_fixed", fixed, want_fix)

        builds = []
        for _ in range(5):
            t = time.perf_counter()
            compile_filters(self.filters)
            route_union(enriched, self.filters)
            builds.append((time.perf_counter() - t) * 1000)
        b = median(builds)
        run.put("routing.build_ms", b["value"], "ms", b["n"])
        routed = route_union(enriched, self.filters)
        t = time.perf_counter()
        routed.write.format("noop").mode("overwrite").save()
        run.put("routing.busy_s", time.perf_counter() - t, "s")
        pairs = routed.count()
        run.put("routing.pairs_out", pairs, "count")
        run.put("routing.fanout_ratio", pairs / (n - rejects), "ratio")
        df.unpersist()

        items = [(e["session_id"], json.dumps(e)) for e in sel[:5000]]
        sender = FaultSenderFactory(run.path("deliver_batch_sink"), self.script)()
        t = time.perf_counter()
        for fc in self.filters:
            deliver_batch(items, fc.streams_in_order, sender)
        run.put("writer.deliver_batch_s", time.perf_counter() - t, "s", len(self.filters))


def trigger_start_ns(progress: dict) -> int:
    """A progress event's ``timestamp`` (trigger start, ISO 8601 in
    milliseconds, UTC) in nanoseconds."""
    dt = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return round(dt.replace(tzinfo=timezone.utc).timestamp() * 1000) * 10**6


def count_check(chk: oracle.StreamCheck, kind: str, got: int, want: int) -> None:
    """One more attempted check; a failure when the counts differ."""
    chk.attempted += 1
    if got != want:
        chk.failed += 1
        chk.failures[kind] += 1

"""catalog_headline: the 12 headline catalog queries through the noop
sink, over tables generated from the seed.

The tables have the row counts and value shapes of the repo's sf0.1
test tables (about 600k lineitem rows), the scale its bench uses.
The cold pass collects every result (its digest is checked against the
DuckDB oracle after the timed region) and ends the set-up.  Then
``--seconds // PASS_SECONDS`` warm passes run (at least two), and each
query's figure is its median over them.  The traced pass splits each query into build / plan / execute, the split of
``plans/r11/segbench.py``, and reads its stages' shuffle and spill
bytes from the status store.
"""

from __future__ import annotations

import math
import time

from perfbench import gen, oracle
from perfbench.metrics import HEADLINE
from perfbench.stats import median
from perfbench.trace import Tracer

SCALE = 0.1  # table sizes relative to TPC-H scale factor 1
MIN_WARM_PASSES = 2
PASS_SECONDS = 6  # --seconds per measured pass (a pass takes 5.5-7 s on a 4-core host)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Catalog:
    def __init__(self, run):
        self.run = run
        self.sf_dir = run.path("tables")
        self.tracer = Tracer()

    def setup(self) -> None:
        from xmidt_event_streams_spark.catalog import QUERIES

        run = self.run
        t = time.perf_counter()
        run.info["table_rows"] = gen.write_catalog_tables(self.sf_dir, run.seed, SCALE)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        spark = run.start_spark()
        run.put("session.start_s", time.perf_counter() - t, "s", 1)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        self.fns = {q: QUERIES[q].fn for q in HEADLINE if q in QUERIES}
        self.digests, self.failed = {}, {}
        for q, fn in self.fns.items():  # cold pass
            try:
                df = fn(spark, self.sf_dir)
                self.digests[q] = oracle.result_digest(df.columns, df.collect())
            except Exception as exc:  # a failing query is a wrong result
                self.failed[q] = f"{type(exc).__name__}: {exc}"[:300]
        run.put("setup_s", time.perf_counter() - run.t0 - gen_s, "s", 1)

    def measure(self) -> None:
        run = self.run
        live = [q for q in self.fns if q not in self.failed]
        # a fixed number of passes for a given --seconds: letting a
        # faster run fit in more passes also warms its JIT further
        n_passes = max(MIN_WARM_PASSES, run.seconds // PASS_SECONDS)
        passes = [self.warm_pass(live) for _ in range(n_passes)]
        per_query = {q: median([p[q] for p in passes])["value"] for q in live}
        self.catalog_s = sum(per_query.values())
        run.info["catalog_s"] = {"value": self.catalog_s, "n": len(passes)}
        run.info["query_s"] = per_query
        # every query moves it: the geometric mean of the per-query medians
        lat = math.exp(sum(math.log(v * 1000) for v in per_query.values()) / len(live))
        run.put("latency_p50_ms", lat, "ms", len(live) * len(passes))
        run.put("throughput_per_s", len(live) / self.catalog_s, "1/s", len(passes))
        if run.trace:
            self.traced_pass(live)
        run.put_peak_rss()

    def warm_pass(self, queries) -> dict[str, float]:
        out = {}
        for q in queries:
            t = time.perf_counter()
            _noop(self.fns[q](self.run.spark, self.sf_dir))
            out[q] = time.perf_counter() - t
        return out

    def traced_pass(self, queries) -> None:
        run, spark, tr = self.run, self.run.spark, self.tracer
        sc = spark.sparkContext
        wall = 0.0
        for q in queries:
            fn = self.fns[q]
            tr.trace_id = q
            with tr.span(f"catalog.{q}.build"):
                fn(spark, self.sf_dir)
            df = fn(spark, self.sf_dir)
            with tr.span(f"catalog.{q}.plan"):
                df._jdf.queryExecution().executedPlan()
            group = f"perfbench-{q}"
            sc.setJobGroup(group, q)
            t = time.perf_counter()
            with tr.span(f"catalog.{q}.exec"):
                _noop(fn(spark, self.sf_dir))
            wall += time.perf_counter() - t
            sc.setJobGroup(None, None)
            shuffle, spill = self.stage_bytes(sc, group)
            run.put(f"catalog.{q}.build_s", tr.busy_s(f"catalog.{q}.build"), "s")
            run.put(f"catalog.{q}.plan_s", tr.busy_s(f"catalog.{q}.plan"), "s")
            # execution alone: the timed write builds and plans again
            exec_s = (tr.busy_s(f"catalog.{q}.exec") - tr.busy_s(f"catalog.{q}.build")
                      - tr.busy_s(f"catalog.{q}.plan"))
            run.put(f"catalog.{q}.exec_s", exec_s, "s")
            run.put(f"catalog.{q}.shuffle_bytes", shuffle, "bytes")
            run.put(f"catalog.{q}.spill_bytes", spill, "bytes")
        run.put("trace.overhead_ms", (wall - self.catalog_s) * 1000, "ms")

    @staticmethod
    def stage_bytes(sc, group: str) -> tuple[int, int]:
        """Shuffle-write and spilled bytes over the group's stages."""
        store = sc._jsc.sc().statusStore()
        shuffle = spill = 0
        for job in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    attempts = store.stageData(stage, False, None, False, None)
                except Exception:  # skipped stages have no data
                    continue
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    shuffle += d.shuffleWriteBytes()
                    spill += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return shuffle, spill

    def verify(self):
        from xmidt_event_streams_spark.catalog import QUERIES

        want = oracle.duckdb_digests(
            self.sf_dir, {q: QUERIES[q].sql for q in self.fns if QUERIES[q].sql}
        )
        failures = dict(self.failed)
        for q in HEADLINE:
            if q not in self.fns:
                failures[q] = "not in the catalog"
            elif q not in failures and self.digests.get(q) != want.get(q):
                failures[q] = f"spark {self.digests.get(q)} != duckdb {want.get(q)}"
        self.run.info["query_failures"] = failures
        return len(HEADLINE), len(failures)

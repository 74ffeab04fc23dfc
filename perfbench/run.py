"""Product-path benchmark of the event router.

    python3 perfbench/run.py --workload steady_route --seed 1 --seconds 12 --trace 0

Runs one workload, checks its output against an independent oracle,
prints every metric by name with its unit and sample count, and ends
with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload with spans around the library calls and reports the
per-layer metrics.  Everything a run writes stays under
``perfbench/.work``.  See perfbench/README.md.
"""

import time

T_START = time.perf_counter()  # noqa: E402  (set-up time counts from here)

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("steady_route", "catalog_headline")


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def library_present() -> bool:
    try:
        import xmidt_event_streams_spark.app  # noqa: F401
        import xmidt_event_streams_spark.catalog  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the router library is not importable: {exc}", file=sys.stderr)
        return False
    return True


def host_calibration_factor() -> float | None:
    """Read-only host speed factor against the repo's recorded best
    (numpy kernel only; nothing is written)."""
    from xmidt_event_streams_spark.calibration import host_calibration

    return host_calibration(None).get("factor")


def execute(run) -> tuple[int, int]:
    """Set up, measure, verify; returns (attempted, failed)."""
    stage_s = run.info["stage_s"] = {}

    def stage(name, fn):
        t = time.perf_counter()
        out = fn()
        stage_s[name] = time.perf_counter() - t
        return out

    if run.workload == "catalog_headline":
        from perfbench.catalog import Catalog

        wl = Catalog(run)
        stage("setup", wl.setup)
        stage("measure", wl.measure)
        return stage("verify", wl.verify)
    from perfbench.streaming import Steady

    wl = Steady(run)
    stage("setup", wl.setup)
    stage("measure", wl.measure)
    chk = stage("verify", wl.verify)
    wl.report(chk)
    if run.trace:
        wl.layers(chk)
        wl.tracer.write(run.results_path("spans.jsonl"))
    run.info["check"] = chk.summary()
    return chk.attempted, chk.failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not library_present():
        return 2
    from perfbench.common import Run, prepare_env, shutdown_jvm

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    prepare_env(run.dir)
    try:
        attempted, failed = execute(run)
    finally:
        run.stop_spark()
        shutdown_jvm()
    # the kernel takes about 4 s, so only the traced runs pay for it
    if run.trace:
        run.info["host_calibration_factor"] = host_calibration_factor()

    wanted = PER_LAYER if run.trace else END_TO_END
    metrics = {}
    for name, unit in wanted.items():
        m = run.metrics.get(name, {"value": 0.0, "unit": unit})  # layer not used
        metrics[name] = {"value": m["value"], "unit": unit}
        n = f" (n={m['n']})" if "n" in m else ""
        print(f"{name} = {m['value']:.6g} {unit}{n}")
    for name, v in sorted(run.info.items()):
        print(f"info {name} = {json.dumps(v, default=str)}")
    print(f"error_rate = {failed / attempted:.6g} ({failed}/{attempted})")
    print(f"correct = {str(failed == 0).lower()}")

    with open(run.results_path("result.json"), "w") as f:
        json.dump({"args": vars(args), "metrics": run.metrics, "info": run.info,
                   "attempted": attempted, "failed": failed}, f, indent=1, default=str)
    shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

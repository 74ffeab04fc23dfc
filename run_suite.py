"""Session-isolated suite runner (r10, VERDICT r9 #8).

The full suite is Spark-session-bound: one session fixture serves
~850 tests for 54-68 min. This runner splits the test FILES into N
groups and runs each group as its OWN pytest process (own
SparkSession, own JVM, torn down at group end), either sequentially
(tests the state-accumulation hypothesis: does a fresh session
restore speed?) or with bounded process parallelism (the throughput
path: groups share nothing -- every repo-root-artifact test is
tmp_path-isolated, testdata is read-only, job-count pins are
job-group-scoped inside their own session -- so the xdist
shared-warehouse race the r9 verdict warned about does not apply to
process-per-group isolation).

Usage:
    python run_suite.py            # parallel, J=4 groups, local[max(2, cores // 4)] each
    python run_suite.py -j 1      # sequential, the hypothesis test
    python run_suite.py -j 4 -n 8 # 8 groups, 4 at a time
    python run_suite.py --durations=40  # unknown flags go to pytest

CPU budget: each group's session gets SPARK_GRAFT_CPUS // J threads
(at least 2), where SPARK_GRAFT_CPUS defaults to the cores this
process may run on, so concurrent groups never oversubscribe the box
(the exact regime that flaked r8's suite). Exit code: nonzero if any
group fails; per-group wall + tallies printed at the end.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO = Path(__file__).resolve().parent


def _groups(n: int) -> list[list[str]]:
    files = sorted(
        str(p.relative_to(REPO)) for p in (REPO / "tests").glob("test_*.py")
    )
    # greedy size-balanced assignment (file size ~ test cost is a
    # rough but serviceable proxy; the report shows the real balance)
    sized = sorted(
        files, key=lambda f: (REPO / f).stat().st_size, reverse=True
    )
    buckets: list[tuple[int, list[str]]] = [(0, []) for _ in range(n)]
    for f in sized:
        i = min(range(n), key=lambda j: buckets[j][0])
        buckets[i] = (
            buckets[i][0] + (REPO / f).stat().st_size,
            buckets[i][1] + [f],
        )
    return [b[1] for b in buckets if b[1]]


def _run_group(
    idx: int, files: list[str], cpus: int, extra: list[str] | None = None
) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "--no-header",
         *(extra or []), *files],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    wall = round(time.perf_counter() - t0, 1)
    # full per-group output always lands on disk (e.g. --durations
    # profiles; success output is otherwise discarded below)
    Path(f"/tmp/xes_suite_group{idx}.out").write_text(proc.stdout or "")
    tail = (proc.stdout or "").strip().splitlines()[-1:]
    m = re.search(
        r"(\d+) passed", tail[0] if tail else ""
    )
    return {
        "group": idx,
        "files": len(files),
        "wall_sec": wall,
        "rc": proc.returncode,
        "tail": tail[0] if tail else "(no output)",
        "passed": int(m.group(1)) if m else 0,
        # keep BOTH streams on failure: a JVM abort, py4j stack or
        # pytest startup error lands on stderr only
        "stdout": proc.stdout if proc.returncode else "",
        "stderr": proc.stderr if proc.returncode else "",
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--groups", type=int, default=None)
    ap.add_argument("-j", "--jobs", type=int, default=4)
    ap.add_argument("pytest_args", nargs="*", help="extra pytest args, e.g. --durations=40")
    # flags this parser does not know (--durations=40, -x, ...) go to
    # pytest as well
    args, unknown = ap.parse_known_args()
    pytest_args = args.pytest_args + unknown
    n = args.groups or args.jobs
    budget = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    cpus = max(2, int(budget) // args.jobs)
    groups = _groups(n)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=args.jobs) as ex:
        results = list(
            ex.map(
                lambda t: _run_group(t[0], t[1], cpus, pytest_args),
                enumerate(groups),
            )
        )
    total = round(time.perf_counter() - t0, 1)
    bad = [r for r in results if r["rc"]]
    for r in sorted(results, key=lambda r: r["group"]):
        print(
            f"group {r['group']}: {r['files']} files, "
            f"{r['wall_sec']}s -- {r['tail']}"
        )
    print(
        f"TOTAL {total}s across {len(groups)} groups "
        f"(j={args.jobs}, local[{cpus}] each), "
        f"{sum(r['passed'] for r in results)} passed, "
        f"{len(bad)} group(s) failed"
    )
    for r in bad:
        print(f"--- group {r['group']} stdout ---\n{r['stdout'][-4000:]}")
        if r["stderr"]:
            print(
                f"--- group {r['group']} stderr ---\n{r['stderr'][-4000:]}"
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

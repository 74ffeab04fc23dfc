"""Shared run plumbing: the work directory, the Spark session, the
streaming checkpoint, and peak memory."""

from __future__ import annotations

import glob
import json
import os
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark run: its arguments, its work directory, its Spark
    session and what it measured."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 t_process_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t_process_start
        self.dir = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        self.spark = None
        self.metrics: dict[str, dict] = {}  # name -> {value, unit, n?}
        self.info: dict = {"nproc": nproc()}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def results_path(self, suffix: str) -> str:
        name = f"{self.workload}-seed{self.seed}-trace{int(self.trace)}-{suffix}"
        return os.path.join(WORK, "results", name)

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        m = {"value": float(value), "unit": unit}
        if n is not None:
            m["n"] = int(n)
        self.metrics[name] = m

    def put_peak_rss(self) -> None:
        parts = peak_rss_mb(self.spark)
        self.put("peak_rss_mb", parts["jvm"] + parts["workers"], "MB")
        self.info["peak_rss_parts_mb"] = parts

    # ------------------------------------------------------------ spark
    def start_spark(self):
        """A session at local[nproc] whose scratch space, warehouse and
        temp files all stay inside the work directory."""
        from xmidt_event_streams_spark.session import get_spark

        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            "perfbench",
            master=f"local[{nproc()}]",
            shuffle_partitions=nproc(),
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None



def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM the session started and wait for it: the gateway
    server exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_env(work_root: str) -> None:
    """Before the JVM starts: workers import the repo and the benchmark
    from the checkout, and temp files stay in the work directory."""
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_root, "spark-local")
    # every JVM, the launcher's too: no hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


# ------------------------------------------------------------- progress

def commit_times_ns(ckpt: str) -> dict[int, int]:
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime_ns
    return out


def batch_files(ckpt: str) -> dict[int, list[str]]:
    """batchId -> basenames of the source files it read, from the file
    source's metadata log (plain and compacted entries)."""
    out: dict[int, list[str]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out.setdefault(int(e["batchId"]), []).append(os.path.basename(e["path"]))
    return out


# --------------------------------------------------------------- memory

def _children(pid: int) -> list[int]:
    kids = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (VmHWM) of the driver JVM and of the Python
    worker processes it has alive, in MiB."""
    jvm = spark.sparkContext._gateway.proc.pid
    workers, todo = [], _children(jvm)
    while todo:
        pid = todo.pop()
        workers.append(_hwm_kb(pid) / 1024.0)
        todo.extend(_children(pid))
    return {"jvm": _hwm_kb(jvm) / 1024.0, "workers": sum(workers), "n_workers": len(workers)}

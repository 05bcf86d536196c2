"""Run plumbing shared by the workloads: environment, Spark session, the stub
and client processes, the RSS sampler and reads of Spark's monitoring REST
API. Nothing here reaches into the package beyond ``session.get_spark``."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime

from spans import merge_intervals

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit. Must run before
    the first Spark session of the process."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_NO_LOCAL_MASTER", None)
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def start_spark(work: str):
    from instructionspipe_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session (if one was built), then the JVM this process
    launched, and wait for every process below this one (JVM, Python
    workers) to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "driver_memory": DRIVER_MEM,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def http_json(url: str, body: dict | None = None, timeout: float = 60.0):
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(url, data=data, method="GET" if body is None else "POST",
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return json.loads(r.read())


# -- child processes ------------------------------------------------------------


class Child:
    """A benchmark-owned child process, stopped and waited for on close."""

    def __init__(self, argv: list[str]):
        self.proc = subprocess.Popen(argv, stdout=subprocess.PIPE, text=True)

    @property
    def pid(self) -> int:
        return self.proc.pid

    def readline(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"child {self.proc.args} exited with {self.proc.wait()}")
        return line.strip()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class StubProcess(Child):
    """The chat-completions stub (``stub.py``) with fixed latency."""

    def __init__(self, latency_ms: float):
        super().__init__([sys.executable, os.path.join(HERE, "stub.py"), "--latency-ms", str(latency_ms)])
        self.url = f"http://127.0.0.1:{int(self.readline())}"

    def reset(self) -> None:
        http_json(self.url + "/reset", {})

    def stats(self) -> dict:
        return http_json(self.url + "/stats")


def stub_layer_metrics(stats: dict, windows: list[tuple[float, float]]) -> dict:
    """Counters of the ``llm_kernel`` layer seen from the endpoint, over the
    requests that started inside the wall-clock ``windows``."""
    iv = [(s, e) for s, e in stats["intervals"] if any(a <= s <= b for a, b in windows)]
    wall = sum(b - a for a, b in windows)
    busy = sum(e - s for s, e in merge_intervals(iv))
    peak = level = 0
    for _, step in sorted([(s, 1) for s, _ in iv] + [(e, -1) for _, e in iv]):
        level += step
        peak = max(peak, level)
    service = [e - s for s, e in iv]
    return {
        "llm_kernel.requests": len(iv),
        "llm_kernel.peak_in_flight": peak,
        "llm_kernel.mean_in_flight": sum(service) / wall,
        "llm_kernel.endpoint_busy_frac": busy / wall,
        "llm_kernel.wire_p50_ms": 1000 * statistics.median(service),
    }


# -- memory ------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def _descendants(root: int) -> list[int]:
    children, out, stack = _children(), [], [root]
    while stack:
        kids = children.get(stack.pop(), [])
        out.extend(kids)
        stack.extend(kids)
    return out


def _tree_rss_bytes(root: int, exclude: set[int]) -> int:
    """RSS summed over ``root`` and its descendants, minus the subtrees
    rooted at ``exclude``."""
    children = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the RSS of the driver Python, the driver JVM and the Python
    workers (this process's tree, minus the stub and client) every 0.2 s."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self.exclude))
            self._stop.wait(0.2)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self.exclude))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- Spark monitoring ----------------------------------------------------------------


class SparkMonitor:
    """Jobs, tasks and stage totals from the status tracker and the REST API
    on the driver UI. Jobs are attributed to a window by submission time, so
    jobs Spark runs on its own threads (streaming) are counted too."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def _get(self, path: str):
        return http_json(self.base + path)

    def refresh(self) -> None:
        """Wait for running jobs to finish and the UI store to settle, then
        read every job and completed stage."""
        deadline = time.time() + 60
        while self.sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        prev = None
        while True:
            jobs = self._get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if time.time() >= deadline or (key == prev and all(j["status"] != "RUNNING" for j in jobs)):
                break
            prev = key
            time.sleep(0.2)
        for j in jobs:
            j["submitted"] = datetime.strptime(
                j["submissionTime"].replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp()
        self.jobs = jobs
        self.stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}

    def submitted(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs if start <= j["submitted"] <= end]

    def totals(self, jobs: list[dict]) -> dict:
        stages = [self.stages[s] for j in jobs for s in j["stageIds"] if s in self.stages]
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "task_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        }

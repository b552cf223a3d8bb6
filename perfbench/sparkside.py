"""Spark-side plumbing for the benchmark: environment, session lifetime,
process-tree RSS, and the application's status REST endpoint.

Everything here observes the program from outside: /proc for memory and
stray JVMs, the UI's REST API for per-job-group counters.
"""

from __future__ import annotations

import json
import os
import re
import signal
import threading
import time
import urllib.request

DRIVER_MEM_DEFAULT = "1g"


def configure_env(tmp_dir: str, trace: bool) -> None:
    """Keep every file Spark and its workers write under ``tmp_dir`` and
    size the driver heap for a small host.  A traced run also polls the
    JVM's memory use every 200 ms, for ``StatusApi.heap_peak_bytes``.  Must
    run before pyspark starts a JVM and before anything calls ``tempfile``."""
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    # build_spark's own default (16g) exceeds small hosts' memory
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM_DEFAULT)
    # a full, pre-touched heap: JVM RSS is then the configured heap plus
    # off-heap use, not wherever G1 happened to grow the heap to
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp_dir} -Xms{mem} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false "
        + ("--conf spark.executor.metrics.pollingInterval=200ms " if trace else "")
        + "pyspark-shell"
    )


def start_session(slots: int):
    from contentextractor_spark.plans.pipeline import build_spark

    spark = build_spark(
        app="cx-perfbench", master=f"local[{slots}]", shuffle_partitions=2 * slots
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM and wait for it.  The gateway server exits
    when its stdin closes; pyspark otherwise leaves it to interpreter exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


# --- /proc ------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows the last ')'
        out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def process_tree(root: int) -> dict[int, int]:
    """pid → parent pid for ``root`` and all its descendants."""
    ppids = _ppids()
    children: dict[int, list[int]] = {}
    for pid, ppid in ppids.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = ppids.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"java" in f.read().split(b"\0")[0]
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended — reparented ones
    too, which leave the tree — and kill what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        pids = {p for p in pids if _running(p)}
        if not pids:
            return
        if time.monotonic() >= deadline:
            if killed:
                return
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


class RssSampler:
    """Summed RSS of this process and all its descendants — driver, gateway
    JVM, Python worker daemon and workers — sampled from a background
    thread.  ``mark`` returns the peak since the previous mark.  Processes
    in ``exclude`` (the benchmark's own helpers) are left out."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.exclude: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            tree = process_tree(root)
            for pid in self.exclude:
                tree.pop(pid, None)
            java = {pid for pid in tree if _is_java(pid)}
            # a JVM child that has forked but not yet exec'd its helper
            # command maps the JVM's own pages: skip it
            total = sum(
                _rss_bytes(pid) for pid, ppid in tree.items() if not (pid in java and ppid in java)
            )
            with self._lock:
                self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def mark(self) -> float:
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def other_spark_jvms() -> list[int]:
    """Spark JVMs on this host that this process did not start."""
    own = set(process_tree(os.getpid()))
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in own:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            found.append(int(name))
    return found


def cpu_jiffies() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def host_info() -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "other_spark_jvms": other_spark_jvms(),
    }


# --- status REST endpoint ----------------------------------------------------

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_total(value: str) -> float:
    """First figure of a SQL metric rendering, e.g. '6.9 s (213 ms, ...)'
    or 'total (min, med, max ...)\\n6.9 s (...)' → seconds, or a count."""
    text = value.split("\n")[-1].strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]*)", text)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _TIME_UNITS.get(unit, 1.0)


class StatusApi:
    """Read-only client for the running application's REST endpoint."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> dict[tuple[int, int], dict]:
        return {(s["stageId"], s["attemptId"]): s for s in self.get("/stages")}

    def sql(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=true&offset=0&length=100000")

    def heap_peak_bytes(self) -> float:
        """Peak JVM heap in use over the application so far (the heap
        itself is sized and touched in full at start, so RSS cannot show
        this)."""
        (driver,) = [e for e in self.get("/executors") if e["id"] == "driver"]
        return driver["peakMemoryMetrics"]["JVMHeapMemory"]

    def task_quantiles(self, stage: int, attempt: int, field: str) -> list[float]:
        q = self.get(f"/stages/{stage}/{attempt}/taskSummary?quantiles=0.5,1.0")
        return q[field]

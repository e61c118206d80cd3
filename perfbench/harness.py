"""Process-level helpers shared by the workloads: the checkout-local
scratch layout, the Spark session and its shutdown, peak-RSS sampling
from ``/proc``, the pure-CPU host control and digests for the oracle
gate."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def work_root() -> str:
    """Scratch space inside the checkout (ignored by git)."""
    return os.path.join(ROOT, ".bench_work")


def prepare_process_env(work: str) -> None:
    """Keep Spark, the JVM and Python workers inside ``work`` and make the
    package importable in executor-side Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")


def start_spark(cores: int, trace: bool):
    """A session built by the engine's own factory at ``local[cores]``.
    The traced pass raises the status store's retention so every job of
    the pass stays readable afterwards."""
    from course_scraper_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(work_root(), "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update(
            {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# -- peak RSS ----------------------------------------------------------------


def _proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """(parent pid, resident KB) of every process visible in /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[pid] = pages * page_kb
    return parent, rss


def _descendants(root_pid: int, parent: dict[int, int]) -> list[int]:
    out = []
    for pid in parent:
        p = parent.get(pid, 0)
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            out.append(pid)
    return out


def _tree_rss_kb(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants (the JVM,
    Python workers), from /proc."""
    parent, rss = _proc_table()
    return rss.get(root_pid, 0) + sum(rss[p] for p in _descendants(root_pid, parent))


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while
    open; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- host control --------------------------------------------------------------


_BURN = """
import sys, time
n, reps = int(sys.argv[1]), int(sys.argv[2])
t0 = time.perf_counter()
for _ in range(reps):
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
print(time.perf_counter() - t0)
"""


def _burn_wall(workers: int, tasks: int, n: int) -> float:
    """Seconds the slowest of ``workers`` processes takes for its share
    of ``tasks`` fixed CPU loops."""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _BURN, str(n), str(tasks // workers)],
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(workers)
    ]
    return max(float(p.communicate()[0]) for p in procs)


def host_control(cores: int, tasks: int = 16, n: int = 150_000) -> dict:
    """Fixed pure-CPU work (no Spark) on 1 and on ``cores`` processes:
    the speed and the scaling ceiling the shared host offers right now,
    recorded beside the results so host drift is not read as a code
    change."""
    t1 = _burn_wall(1, tasks, n)
    tn = _burn_wall(cores, tasks, n)
    return {"control_s": t1, "control_eff": t1 / (cores * tn), "cores": cores}


# -- digests -------------------------------------------------------------------


def digest(rows) -> str:
    """Order-insensitive digest of an iterable of JSON-able rows."""
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it (its Python workers exit
    with it), and wait until those processes have ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    jvm_tree = [proc.pid] + _descendants(proc.pid, _proc_table()[0]) if proc else []
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(p) for p in jvm_tree):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Running, not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

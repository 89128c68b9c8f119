"""Host-facing pieces of the benchmark: the Spark session it uses, the
resident-memory sampler, and the shutdown that waits for every process
the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 4.0


def session_config(work_dir: str) -> dict:
    """Spark settings for this host.  Everything Spark writes goes under
    ``work_dir`` (the directories are created here).  The driver heap is
    an eighth of RAM, between 1 and 4 GB, committed and touched at JVM
    start so that its resident size does not drift with GC sizing."""
    cpus = cpu_count()
    heap_gb = int(min(4, max(1, round(_mem_total_gb() / 8))))
    tmp = os.path.join(work_dir, "tmp")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    return {
        "spark.master": f"local[{cpus}]",
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.session.timeZone": "UTC",
        # one input file per scan partition, so the file count sets the
        # number of stage-1 tasks
        "spark.sql.files.openCostInBytes": str(128 << 20),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{heap_gb}g -XX:+AlwaysPreTouch",
    }


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) every ``interval`` seconds and keeps
    the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """The peak since the last call (or the start), then reset it."""
        peak, self.peak = self.peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown(spark, timeout: float = 30.0) -> None:
    """Stop the Spark session and the JVM, then wait until every process
    this run started has exited, killing stragglers after ``timeout``."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
    for kill in (False, True):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            left = [p for p in started if _alive(p)]
            if not left:
                return
            time.sleep(0.05)
        if kill:
            raise RuntimeError(f"processes {left} did not exit")
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

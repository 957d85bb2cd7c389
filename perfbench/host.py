"""Host fit, session start and driver-tree memory for the benchmark.

The engine's ``session.get_spark`` defaults to 32 CPUs and a 48g
driver.  The benchmark sizes both to the host through the existing
environment overrides (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``,
``SPARK_LOCAL_DIRS``) and keeps every file it or Spark writes inside
the work directory it is given.
"""

from __future__ import annotations

import os
import threading
import time

# how often RssSampler reads the process tree's memory
RSS_INTERVAL_S = 1.0


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_memory_bytes() -> int:
    """Physical memory, capped by a cgroup v2 limit when one is set."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def driver_memory_gb() -> int:
    """A quarter of the host, between 1 and 8 GiB: the machine is shared
    and the Python workers need room beside the JVM."""
    return max(1, min(8, host_memory_bytes() // (4 << 30)))


def fit_environment(work: str) -> None:
    """Export the engine's env overrides for this host and point every
    scratch location into ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start_session(work: str, event_log_dir: str | None = None):
    """Start the engine's session with benchmark-only confs: no console
    progress bar, JVM temp files inside ``work``, and the event log
    when tracing."""
    from dump1090_postgis_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the driver JVM it runs in, and wait until
    that process and the Python workers it forked have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def session_labels(spark) -> dict:
    from dump1090_postgis_spark.streaming.pipeline import resolve_stream_engine

    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
        "stream_engine": resolve_stream_engine("auto"),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _tree() -> list[int]:
    """This process and all its descendants: the Python driver, the
    driver JVM and the Python workers it forks."""
    kids = _children()
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes() -> int:
    """Resident memory of the process tree."""
    return sum(_rss_bytes(pid) for pid in _tree())


def _cpu_ticks(pid: int) -> int:
    """User + system ticks, reaped children included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except OSError:
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used by the process tree."""
    return sum(_cpu_ticks(pid) for pid in _tree()) / os.sysconf("SC_CLK_TCK")


def _steal_and_total() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class Meter:
    """Wall time, process-tree CPU time and the machine's steal share
    (CPU time the hypervisor gave to other guests) over a block."""

    def __enter__(self) -> "Meter":
        self._cpu0 = tree_cpu_s()
        self._st0 = _steal_and_total()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        steal, total = _steal_and_total()
        self.steal_share = (steal - self._st0[0]) / max(1, total - self._st0[1])

    def as_dict(self) -> dict:
        return {"wall_s": self.wall_s, "cpu_s": self.cpu_s,
                "steal_share": self.steal_share}


class RssSampler:
    """Samples the process tree's resident memory on a thread; ``peak``
    is the largest sum seen.  Use as a context manager."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())

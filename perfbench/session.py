"""Process set-up for one benchmark run: the environment that pins the
Spark session, the run's work directory, the session itself and the
resident-memory sampler.

Everything a run writes stays under ``perfbench/.work/`` of the
checkout: inputs, outputs, Spark's local dirs, the JVM and Python temp
dirs and the package zip that is shipped to the Python workers.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "gdal_drivers_spark"
DRIVER_MEM = "4g"


def cores() -> int:
    """Cores this process may run on (what ``nproc`` reports without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


class WorkDir:
    """A fresh per-run directory under ``perfbench/.work``, removed by
    :meth:`close`."""

    def __init__(self, tag: str):
        self.path = os.path.join(BENCH_DIR, ".work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# The whole heap is committed and touched at JVM start, so the driver's
# resident memory does not depend on when G1 happens to grow the heap;
# peak_rss_mb then moves with off-heap and Python-worker memory. The
# console keeps errors only and no progress bars.
_SPARK_DEFAULTS = f"""\
spark.ui.showConsoleProgress false
spark.driver.extraJavaOptions -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch
"""
_LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
"""


def pin_environment(work: WorkDir) -> None:
    """Set the variables the session reads before the JVM starts."""
    tmp = work.sub("tmp")
    conf = work.sub("conf")
    os.makedirs(conf)
    for name, text in (("spark-defaults.conf", _SPARK_DEFAULTS), ("log4j2.properties", _LOG4J2)):
        with open(os.path.join(conf, name), "w") as f:
            f.write(text)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": work.sub("spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("OMP_NUM_THREADS", None)
    tempfile.tempdir = tmp


def _zip_package(dest: str) -> str:
    src = os.path.join(ROOT, PACKAGE)
    with zipfile.ZipFile(dest, "w") as z:
        for d, _, files in os.walk(src):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, ROOT))
    return dest


def start_spark(work: WorkDir):
    """The engine's own session (``get_spark``) with the environment
    pinned by :func:`pin_environment`. The package zip that
    ``get_spark`` ships to executors is built inside the work dir."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import gdal_drivers_spark as pkg

    zpath = _zip_package(work.sub(f"{PACKAGE}.zip"))
    pkg.package_zip = lambda: zpath
    spark = pkg.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, driver JVM, Python workers), sampled every
    ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        pages = {}
        for pid, ppid in [(os.getpid(), None), *_descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages[pid] = int(f.read().split()[1])
            except OSError:
                continue
            # A child the JVM is spawning shares its parent's memory until
            # it execs and reports the same resident pages; count it once.
            if pages[pid] == pages.get(ppid):
                pages[pid] = 0
        return sum(pages.values()) * self._page

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)


def _descendants() -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of this process, parents
    before their children."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            children.setdefault(int(stat[stat.rindex(")") + 2:].split()[1]), []).append(int(entry))
    out, todo = [], [(c, os.getpid()) for c in children.get(os.getpid(), ())]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    it started (JVM, Python worker daemon, workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.05)

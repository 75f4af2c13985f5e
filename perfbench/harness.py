"""Shared measurement harness: host-fit settings, the md5 canary, the
process-tree RSS sampler, the run record, Spark set-up and teardown.

Everything here measures the program from outside: it calls the public
functions of ``xrenner_spark`` and reads ``/proc``; it changes no code of
the package.
"""

from __future__ import annotations

import glob
import hashlib
import json
import multiprocessing
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from typing import Callable, Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


# ---------------------------------------------------------------------
# host-fit settings
# ---------------------------------------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024.0 * 1024.0)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of host RAM, at least 2g and at most the package's own
    48g default: the one local JVM carries every task slot, and the host
    is shared."""
    return "%dg" % max(2, min(48, int(host_mem_gb() / 4)))


def prepare_env(work: str) -> Dict[str, str]:
    """Environment for the Spark JVM and its Python workers; everything
    they write lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    settings = {
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    return settings


def spark_conf(work: str, event_log: bool) -> Dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ---------------------------------------------------------------------
# canary and run record
# ---------------------------------------------------------------------

def _burn(n: int) -> None:
    x = b"x"
    for _ in range(n):
        x = hashlib.md5(x).digest()


def canary(n: int = 400_000) -> float:
    """Wall seconds for one md5 chain of ``n`` links on each CPU at once:
    a slow reading means the host was busy when the run started.  Runs
    before any thread or JVM is started, so forking is safe."""
    ctx = multiprocessing.get_context("fork")
    procs = [ctx.Process(target=_burn, args=(n,)) for _ in range(host_cpus())]
    t0 = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return time.perf_counter() - t0


def tree_hash(root: str, suffixes=None) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if suffixes and not name.endswith(suffixes):
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode("utf8") + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_revision() -> str:
    """HEAD of the checkout when it is a git work tree, else "none"."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.isfile(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "none"


def host_counters() -> Dict[str, float]:
    """CPU seconds stolen from this VM by its host, and seconds some task
    here stalled on CPU or I/O (pressure stall information), so far."""
    out = {}
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    out["steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    for res in ("cpu", "io"):
        try:
            with open("/proc/pressure/" + res) as fh:
                some = fh.readline().split()
        except OSError:
            continue
        out[res + "_stall_s"] = int(some[-1].split("=")[1]) / 1e6
    return out


def counters_since(start: Dict[str, float]) -> Dict[str, float]:
    now = host_counters()
    return {k: round(now[k] - v, 3) for k, v in start.items()}


def run_record(args, settings: Dict[str, str], canary_s: float) -> Dict:
    pkg = os.path.join(ROOT, "xrenner_spark")
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "small": args.small,
        "git_revision": git_revision(),
        "code_hash": tree_hash(pkg, (".py",)),
        "model_hash": tree_hash(os.path.join(pkg, "models", "web")),
        "host": {"cpus": host_cpus(), "mem_gb": round(host_mem_gb(), 1),
                 "python": platform.python_version()},
        "settings": settings,
        "canary_s": round(canary_s, 4),
    }


# ---------------------------------------------------------------------
# resident memory of the process tree
# ---------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(data.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open("/proc/%d/statm" % p) as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process and its descendants (the driver
    JVM and the Python workers it forks), sampled every ``interval``
    seconds while running."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)


# ---------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------

class Session:
    """Owns the SparkSession of one benchmark process: the one set-up
    (which launches the JVM), the between-rep heap reset and the final
    teardown of the JVM."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None
        self.setup_split: Dict[str, float] = {}
        self.conf_snapshot: Dict[str, str] = {}

    def setup(self, warm_up: Callable, event_log: bool = False) -> float:
        """get_spark (JVM launch included) + load_lex + broadcast +
        ``warm_up(spark, bcast)``; returns the wall seconds until a timed
        region may start."""
        from xrenner_spark.lex import load_lex
        from xrenner_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra_conf=spark_conf(self.work, event_log))
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.conf_snapshot = {
            k: v for k, v in self.spark.sparkContext.getConf().getAll()
            if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master",
                             "spark.eventLog.", "spark.default"))}
        lex = load_lex()
        t2 = time.perf_counter()
        self.bcast = self.spark.sparkContext.broadcast(lex)
        t3 = time.perf_counter()
        warm_up(self.spark, self.bcast)
        t4 = time.perf_counter()
        self.setup_split = {"get_spark_s": t1 - t0, "load_lex_s": t2 - t1,
                            "broadcast_s": t3 - t2, "warm_up_s": t4 - t3}
        return t4 - t0

    def gc(self) -> None:
        """Collect the JVM heap between reps, so one rep's garbage is not
        paid for by the next (consecutive runs share the one local JVM)."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def stop_for_event_log(self) -> str:
        """Stop the context, which flushes its event log; returns the log."""
        path = os.path.join(self.work, "eventlog", self.spark.sparkContext.applicationId)
        self.spark.stop()
        self.spark = None
        return path

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until every process this
        benchmark started has exited."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext
        started = descendants(os.getpid())
        if self.spark is not None:
            try:
                self.spark.stop()
            except Py4JError:  # connection cut mid-call (SIGTERM): kill below
                pass
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_for_exit(started + descendants(os.getpid()))


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_for_exit(pids: List[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited (Python workers are
    re-parented once the JVM is gone); kill what outlives ``timeout``."""
    deadline = time.time() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.05)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def percentile(values: List[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def emit(record: Dict, correct: bool, attempted: int, failed: int,
         metrics: Dict[str, tuple]) -> None:
    """Print the run record, then the result as the last stdout line."""
    print(json.dumps({"record": record}, sort_keys=True, default=str))
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {name: {"value": float(v), "unit": unit}
                    for name, (v, unit) in metrics.items()},
    }), flush=True)

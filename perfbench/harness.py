"""Run plumbing shared by the workloads: the host-sized Spark session,
operation accounting, process CPU and memory readings, and the context
stamped into every result."""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from perfbench import config
from perfbench.trace import Tracer


class OpFailed(Exception):
    """An engine call raised; it is counted and the unit is abandoned."""


class Bench:
    """State of one benchmark run: work area, session and counters."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.sizes = config.SIZES
        self.work = os.path.join(root, ".perfbench", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # Python workers import gents_spark from the checkout; temp files
        # of the gateway launcher stay inside the work area
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # no /tmp/hsperfdata_<user> files from the launcher or driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.spark = None
        self.conf: dict = {}
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.op_cpu_s = 0.0
        self.problems: list[str] = []

    # -- session -----------------------------------------------------------

    def start_session(self, event_log: str | None = None) -> float:
        from gents_spark.session import get_spark

        conf = config.session_conf(self.work, event_log)
        if event_log:
            os.makedirs(event_log, exist_ok=True)
        master = conf.pop("master")
        t0 = time.perf_counter()
        self.spark = get_spark(master=master, app_name="gents-perfbench",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.conf = {"master": master, **conf}
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and end the JVM, waiting until it has exited
        (the gateway JVM exits when its stdin closes)."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # -- accounting --------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """Span around one engine call; a raise counts as a failed op.
        The call's CPU time is added to ``op_cpu_s``."""
        self.attempted += 1
        c0 = self.cpu_s()
        try:
            with self.tracer.span(name) as s:
                try:
                    yield s
                except Exception as e:
                    self.failed += 1
                    traceback.print_exc(file=sys.stderr)
                    raise OpFailed(name) from e
        finally:
            self.op_cpu_s += self.cpu_s() - c0

    def check(self, name: str, problems: list[str]) -> None:
        """An untimed correctness check; any problem is a failed op."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            print(f"CHECK FAILED {name}: {problems[:3]}", file=sys.stderr)

    def cpu_s(self) -> float:
        """CPU seconds of this process plus the JVM and its Python workers."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime + _tree_cpu_s(self.jvm_pid())

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")

    def context(self) -> dict:
        """Facts about the run that are not metrics."""
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "cores": os.cpu_count(),
            "mem_total_mb": config.mem_total_mb(),
            "git_commit": _git_commit(self.root),
            "source_hash": source_hash(self.root),
            "host_cal_s": host_calibration(),
            "spark_conf": self.conf,
        }


def _tree_cpu_s(pid: int) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / tick


def source_hash(root: str) -> str:
    """Hash of the engine's and the benchmark's Python sources; it tells
    runs of different code apart where the checkout is not a git
    repository."""
    h = hashlib.sha256()
    for top in ("gents_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_calibration() -> float:
    """Fixed single-thread CPU workload, best of 3 seconds: the same host
    gauge ``bench.py`` stamps into its results, so runs on a slowed host
    can be told apart from a slowed engine."""
    import numpy as np

    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        rng = np.random.default_rng(7)
        a = rng.standard_normal(2_000_000)
        for _ in range(10):
            a = np.tanh(a * 0.5) + np.sqrt(np.abs(a) + 1.0)
        h = 0
        for i in range(300_000):
            h = (h * 1_000_003 + i) & 0xFFFFFFFFFFFF
        best = min(best, time.time() - t0)
    return round(best, 3)


def _gauge_job(seed: int) -> None:
    import numpy as np

    a = np.random.default_rng(seed).standard_normal(1 << 20)
    for _ in range(4):
        a = np.sort(a * 1.000001 + 0.5)
        a = np.tanh(a) + np.sqrt(np.abs(a) + 1.0)


def host_gauge_s(reps: int) -> list[float]:
    """Wall times of a fixed numpy job (sorts and element-wise passes
    over 8 MB) run at once on every core, ``reps`` times.

    It shares no code with the engine or Spark, so an engine change
    cannot move it, while a host whose cores are slowed by other tenants
    slows it as it slows the engine.  The end-to-end times are reported
    as multiples of its median."""
    cores = os.cpu_count() or 1
    out = []
    with ThreadPoolExecutor(cores) as ex:
        list(ex.map(_gauge_job, range(cores)))  # warm-up
        for _ in range(reps):
            t0 = time.perf_counter()
            list(ex.map(_gauge_job, range(cores)))
            out.append(time.perf_counter() - t0)
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s))) - 1))]

"""Session lifetime, spans, memory sampling and the box-speed control.

Everything here observes the program from outside: the Spark session
is built with the program's own ``build_session``; spans only set the
calling thread's job group; memory is read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import threading
import time
import uuid

from evlog import Span

# Box-speed controls (diagnostics, never gating).  The Spark one is the
# plan of bench.py's _control_once (range -> xxhash64 -> bit_xor over 64
# partitions) with fewer rows; it runs once, at the end of a run, when
# the JVM is warm (at the start it would time JIT warm-up, not the box).
# The Python one is a fixed single-core loop, timed at both ends.  Their
# plans must not change between commits or the figures stop comparing.
CONTROL_ROWS = 100_000_000
PY_CONTROL_ITERS = 2_000_000


class Tracer:
    """Spans in memory; job group = span id while tracing is on."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.root = Span("run", f"{self.run_id}-root", time.time(),
                         run_id=self.run_id)
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, f"{self.run_id}-{uuid.uuid4().hex[:8]}", time.time(),
                 parent=self.root.span_id, run_id=self.run_id)
        if self.enabled:
            self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                with self._lock:
                    self.spans.append(s)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _alive(pid: int) -> bool:
    """True until the process has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


class MemorySampler:
    """Peak of (JVM VmHWM + summed VmHWM of the live Python workers),
    sampled every ``period`` seconds from /proc (psutil is absent)."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def sample(self) -> None:
        kb = _status_kb(self.jvm_pid, "VmHWM")
        kb += sum(_status_kb(p, "VmHWM") for p in descendants(self.jvm_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def control_s(spark) -> float:
    """One pass of the fixed Spark control plan, in seconds."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, CONTROL_ROWS, 1, 64).select(
        F.expr("bit_xor(xxhash64(id)) AS x")).collect()
    return time.perf_counter() - t0


def py_control_s() -> float:
    """The fixed single-core Python loop, in seconds."""
    t0 = time.perf_counter()
    x = 0
    for i in range(PY_CONTROL_ITERS):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def start_session(run_dir: str, trace: bool):
    """The program's own session factory on local[nproc], with every
    scratch path inside ``run_dir``; the event log only when tracing."""
    from gg2rdf_spark.session import build_session

    ncpu = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={local} "
            f"-Dderby.system.home={run_dir}",
    }
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name="gg2rdf-perfbench",
                         master=f"local[{ncpu}]", extra_conf=conf)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the gateway JVM and its Python workers
    have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + timeout
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

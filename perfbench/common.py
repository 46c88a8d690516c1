"""Shared pieces of the benchmark: environment, sampling, spans, stats."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import threading
import time
from contextlib import contextmanager


def pct(values, q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 50)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


class MemSampler:
    """Runs ``memsampler.py`` on this process tree; :meth:`stop` ends it
    and keeps the peak it saw (total and by executable, in MB)."""

    def __init__(self, tmp: str):
        self.path = os.path.join(tmp, "mem.json")
        self.peak_mb = 0.0
        self.peak_by_exe: dict[str, float] = {}
        self._proc: subprocess.Popen | None = None

    def start(self) -> "MemSampler":
        here = os.path.dirname(os.path.abspath(__file__))
        self._proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "memsampler.py"),
             str(os.getpid()), self.path]
        )
        return self

    def stop(self) -> None:
        if self._proc is None:
            return
        self._proc.terminate()
        self._proc.wait(timeout=10)
        self._proc = None
        if os.path.exists(self.path):
            with open(self.path) as fh:
                got = json.load(fh)
            self.peak_mb, self.peak_by_exe = got["peak_mb"], got["by_exe_mb"]


class Tracer:
    """In-memory spans: (id, parent, trace id, name, start, end, attrs).

    Disabled tracers record nothing and cost one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = 0
        self._lock = threading.Lock()

    def add(self, name: str, t0: float, t1: float, parent: int | None = None,
            trace: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self._ids += 1
            sid = self._ids
            self.spans.append({
                "id": sid, "parent": parent, "trace": trace, "name": name,
                "start": t0, "end": t1, **({"attrs": attrs} if attrs else {}),
            })
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None,
             trace: str | None = None):
        """Records the block as one span."""
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), parent, trace)

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per span name: duration minus the union of its
        children's intervals."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                a, b = max(c["start"], cur_end), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "self_s": self.self_time_by_layer()}, fh)


def stop_spark(spark) -> None:
    """Stops the session and its JVM, and waits until the JVM has ended.

    ``spark.stop()`` leaves the gateway JVM running; it only ends once it
    sees its stdin close, which would otherwise happen after this
    process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def adopt_orphans() -> None:
    """Makes this process the child subreaper of its tree, so that a
    descendant whose parent ends (a Python worker of a JVM, the JVM of a
    killed child) is re-parented here and :func:`reap_children` can
    wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _child_pids() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_children(grace_s: float = 10.0) -> None:
    """Waits until every child process has ended: each gets ``grace_s``
    seconds to exit by itself, then SIGTERM, then SIGKILL."""
    import signal

    deadline = time.time() + grace_s
    sig = None
    while True:
        while True:  # collect the ended ones
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        kids = _child_pids()
        if not kids:
            return
        if time.time() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        time.sleep(0.05)


def cpu_times() -> dict[str, float]:
    """Machine-wide CPU seconds so far: busy, idle and steal (time the
    hypervisor gave this machine's CPUs to someone else)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (sum(f) - f[3] - f[4] - f[7]) / hz,
            "idle": (f[3] + f[4]) / hz, "steal": f[7] / hz}


def submit_args(tmp: str, event_dir: str | None = None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` keeping the JVM's scratch files in
    ``tmp``; with ``event_dir``, the Spark event log is written there."""
    confs = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "--conf spark.sql.streaming.numRecentProgressUpdates=10000",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if event_dir:
        confs += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{event_dir}",
        ]
    return " ".join(confs) + " pyspark-shell"


def environment(seed: int) -> dict:
    import duckdb
    import pyspark

    java = os.environ.get("JAVA_HOME", "")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java_home": java,
        "seed": seed,
    }


def java_version(spark) -> str:
    return spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

"""Process bookkeeping read from ``/proc``: the Python workers' peak RSS,
the host's CPU steal time, and stopping the Spark JVM and its children at
the end of a run."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after the last ')'
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip().startswith("python")
    except OSError:
        return False


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all vCPUs
    since boot (the ``steal`` column of ``/proc/stat``); 0 where absent."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class WorkerRss:
    """Samples the peak RSS (``VmHWM``) of every Python process below this
    one, i.e. Spark's Python workers, every ``period`` seconds."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.sample()
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            if _is_python(pid):
                self.peak_kb = max(self.peak_kb, _status_kb(pid, "VmHWM"))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait until every
    process started under this one has exited."""
    from pyspark import SparkContext

    before = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
        _reap(before)


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            continue
    while alive and time.monotonic() < deadline + 10:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]

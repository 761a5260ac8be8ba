"""Process helpers for the benchmark: the /proc walk behind the PySpark
worker RSS sampler, and an orderly Spark teardown that waits for the JVM
and every Python worker it started to exit.

Only /proc is read (psutil is not a dependency of the repository).
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name sits in parentheses and may contain spaces
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    """Every live descendant of `root` (not `root` itself)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _is_pyspark_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def worker_rss_bytes(jvm_pid: int) -> int:
    """Summed RSS of the PySpark Python processes under the Spark JVM."""
    return sum(_rss_bytes(p) for p in descendants(jvm_pid)
               if _is_pyspark_worker(p))


class WorkerRssSampler:
    """One background thread that samples `worker_rss_bytes` every
    `interval` seconds and keeps the peak. Use as a context manager; the
    thread is joined on exit."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run,
                                        name="perfbench-rss", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes,
                                  worker_rss_bytes(self.jvm_pid))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")


def jvm_process():
    """The Popen handle of the JVM PySpark launched."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:stat.rfind(b")") + 3] != b"Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait until
    the JVM and every process under it are gone; leftovers are killed."""
    from pyspark import SparkContext

    proc = jvm_process()
    kids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            SparkContext._gateway.shutdown()
            proc.stdin.close()  # PythonGatewayServer exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        deadline = time.monotonic() + timeout
        while any(_alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in kids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in kids) and time.monotonic() < deadline + 5:
            time.sleep(0.05)

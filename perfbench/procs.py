"""Processes of one run: its age, the program's memory, orderly shutdown."""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _descendants(root: int) -> list[int]:
    """Every live descendant of ``root``, from the parent ids in /proc
    (a JVM forks from many threads, so one task's children list is not
    enough)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
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
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the program: the driver JVM, this Python
    driver process and the JVM's Python workers. Each figure is a
    process's own high-water mark (``VmHWM`` in /proc), so a spike between
    two samples still counts.

    - JVM: its mark over the whole run, read once before it stops.
    - Python driver: its mark over the timed regions only. ``timed()``
      resets the mark on entry (``/proc/self/clear_refs``) and reads it on
      exit, so input generation and result checks between the regions
      stay out.
    - workers: the largest sum, at one sample, of the live workers' marks,
      sampled every 250 ms and once more at stop. A mark keeps the
      worker's own peak, so a sample only has to find the worker alive.

    The total is the sum of the three peaks."""

    def __init__(self):
        self.jvm_pid: int | None = None
        self.kb = {"jvm": 0, "driver": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def attach(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._thread.start()

    @contextlib.contextmanager
    def timed(self):
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")  # reset VmHWM to the current RSS
        except OSError:
            pass  # the mark then also covers what ran before
        try:
            yield
        finally:
            self.kb["driver"] = max(self.kb["driver"], _status_kb(os.getpid(), "VmHWM:"))

    def sample(self) -> None:
        workers = sum(_status_kb(p, "VmHWM:") for p in _descendants(self.jvm_pid))
        self.kb["workers"] = max(self.kb["workers"], workers)

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.sample()

    def stop(self) -> float:
        if self.jvm_pid is not None and not self._stop.is_set():
            self.sample()
            self.kb["jvm"] = _status_kb(self.jvm_pid, "VmHWM:")
            self._stop.set()
            self._thread.join()
        return sum(self.kb.values()) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(timeout_s: float = 20.0) -> None:
    deadline = time.monotonic() + timeout_s
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in _descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}

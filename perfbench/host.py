"""Host diagnostics and process-tree control for one benchmark run."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def window_start() -> tuple[float, tuple[int, int]]:
    return loadavg1(), cpu_ticks()


def window_stats(start: tuple[float, tuple[int, int]]) -> dict[str, float]:
    """Mean 1-minute loadavg and CPU steal share since ``window_start``."""
    return {"loadavg": (start[0] + loadavg1()) / 2,
            "steal_frac": steal_frac(start[1], cpu_ticks())}


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:  # the process exited
        return False


def resident_bytes(pid: int) -> int:
    """Resident memory of ``pid`` with shared pages counted once across
    processes: the proportional set size, except for the JVM, whose pages
    are its own (its RSS is read instead, as PSS walks its whole heap)."""
    try:
        if is_jvm(pid):
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited between listing and reading
        pass
    return 0


class RssSampler:
    """Samples the resident memory of this process and its descendants (the
    Spark JVM, the Python worker daemon and its forked workers) on a
    background thread.  Forked workers share most pages with the daemon;
    summing plain RSS would count those once per worker."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}  # JVM / Python split at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = {"jvm": 0, "python": 0, "python_procs": 0}
            for pid in [me, *descendants(me)]:
                if is_jvm(pid):
                    parts["jvm"] += resident_bytes(pid)
                else:
                    parts["python"] += resident_bytes(pid)
                    parts["python_procs"] += 1
            total = parts["jvm"] + parts["python"]
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    every Python worker it forked have exited (killing stragglers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline:
            tree = [p for p in tree if os.path.exists(f"/proc/{p}")
                    and not _zombie(p)]
            if not tree:
                break
            time.sleep(0.1)
        for p in tree:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"

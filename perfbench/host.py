"""Host-side measurement: process-tree memory sampling, host load snapshots
and shutdown of every process the benchmark started.

Everything here reads /proc directly, so it sees the Spark driver JVM and the
Python worker daemons that PySpark starts as children of this process.
"""

from __future__ import annotations

import os
import signal
import threading
import time

SAMPLE_INTERVAL_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
        if state != "Z":  # an exited child waiting to be reaped holds nothing
            kids.setdefault(int(ppid), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so Python workers forked from one daemon
    do not each count the pages they share with it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and all of
    its descendants (driver JVM, Python worker daemon and workers) on a
    background thread; `peak_mb` is the largest sum seen."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def _calibration_s() -> float:
    """Wall time of a fixed single-threaded Python loop: it changes only
    when the host's speed does."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def host_snapshot() -> dict:
    """nproc, load averages, free memory, CPU steal and a calibration loop:
    recorded at the start and end of a run so a run hit by a co-tenant load
    spike is visible."""
    with open("/proc/loadavg") as fh:
        l1, l5, l15 = (float(x) for x in fh.read().split()[:3])
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024  # kB -> MB
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "time": round(time.time(), 3),
        "nproc": len(os.sched_getaffinity(0)),
        "load1": l1,
        "load5": l5,
        "load15": l15,
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "cpu_jiffies": sum(cpu),
        "steal_jiffies": cpu[7],
        "calibration_s": _calibration_s(),
    }


def steal_pct(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    snapshots."""
    total = end["cpu_jiffies"] - start["cpu_jiffies"]
    return 100.0 * (end["steal_jiffies"] - start["steal_jiffies"]) / total if total else 0.0


def reap_children(timeout_s: float = 30.0) -> list[int]:
    """Wait for every descendant of this process to exit; TERM, then KILL,
    whatever is still alive at the deadline. Returns the pids that had to be
    signalled."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while descendants(me) and time.time() < deadline:
        _reap()
        time.sleep(0.2)
    signalled = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5
        while descendants(me) and time.time() < end:
            _reap()
            time.sleep(0.1)
    _reap()
    return signalled


def _reap() -> None:
    """Collect the exit status of every exited direct child."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return

"""Process-tree helpers over /proc: summed RSS of the JVM and its Python
workers, and waiting for the processes the benchmark started to end."""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed RSS of the JVM and the Python workers it forks
    while active.  Other descendants are skipped: a helper the JVM spawns
    (Hadoop's shell commands) briefly reports the JVM's own RSS."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self._active.is_set():
                total = sum(
                    rss_bytes(p)
                    for p in descendants(me)
                    if _comm(p).startswith(("java", "python"))
                )
                self.peak = max(self.peak, total)
            time.sleep(self.interval_s)

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks_of(pid: int) -> int:
    """utime + stime of `pid`, plus that of its children already reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(v) for v in fields[11:15])


# HotSpot's JIT compiler threads (comm is cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks_of(pid: int) -> int:
    """utime + stime of the JIT compiler threads of `pid`, if it has any."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 : stat.rindex(")")].startswith(_JIT_THREADS):
            total += sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[11:13])
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by `pid` and every process under it, less
    the JVM's JIT compiler threads.  A Python worker that has exited is
    counted in its parent's reaped-children time, so the sum does not drop
    when workers come and go.  Unlike wall time, it does not grow when the
    host takes CPU time away.  The compiler threads are left out because
    they keep compiling for several passes after the warm-up, by an amount
    that varies twofold between runs of the same code; the JVM is started
    with a fixed set of them, so none exits and takes its time along."""
    return _TICK_S * sum(
        _cpu_ticks_of(p) - _jit_ticks_of(p) for p in [pid, *descendants(pid)]
    )


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time a virtual machine's CPUs waited for the host: it slows
    every timing of a run without any change to the program."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of `pids` runs any more; returns the survivors."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.05)
    return alive

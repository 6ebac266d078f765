"""Process bookkeeping from /proc: the peak summed RSS of this process
and every descendant (the JVM and Spark's Python workers), and a
shutdown that waits until each process seen has ended."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")
#: Younger processes are not counted: a child the JVM spawns shares the
#: JVM's address space until it execs, and would read as a second JVM.
MIN_AGE_S = 1.0

def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it are fixed
    return stat[stat.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def age_s(pid: int) -> float:
    fields = _stat(pid)
    if fields is None:
        return 0.0
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - int(fields[19]) / _HZ


def start_time(pid: int) -> str | None:
    fields = _stat(pid)
    return None if fields is None else fields[19]


def alive(pid: int, started: str) -> bool:
    """True while the process that had this pid and start time runs
    (a reused pid has another start time; a zombie counts as ended)."""
    fields = _stat(pid)
    return fields is not None and fields[19] == started and fields[0] != "Z"


class RssSampler:
    """Background thread sampling the summed RSS of this process tree.
    While paused it only records new processes (so shutdown still waits
    for them) and leaves the peak alone."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        #: pid -> start time of every descendant ever sampled
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._paused = False
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with self._lock:
            self._sample_locked()

    def _sample_locked(self) -> None:
        me = os.getpid()
        pids = descendants(me)
        for p in pids:
            if p not in self.seen or not alive(p, self.seen[p]):
                st = start_time(p)
                if st is not None:
                    self.seen[p] = st
        if self._paused:
            return
        counted = [me, *(p for p in pids if age_s(p) >= MIN_AGE_S)]
        self.peak = max(self.peak, sum(rss_bytes(p) for p in counted))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def pause(self) -> None:
        """Stop counting toward the peak; returns once no sample that
        counts is in flight."""
        with self._lock:
            self._paused = True

    def resume(self) -> None:
        with self._lock:
            self._paused = False

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.pause()
        self._sample()


def reap(procs: dict[int, str], timeout: float = 20.0) -> None:
    """Wait until every (pid, start time) process has ended; SIGKILL
    whatever outlives the timeout, then wait for those too."""
    deadline = time.monotonic() + timeout
    while any(alive(p, s) for p, s in procs.items()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p, s in procs.items():
        if alive(p, s):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(alive(p, s) for p, s in procs.items()):
        time.sleep(0.05)

"""CPU and memory accounting for the whole engine process tree.

The engine is three kinds of process: this Python driver, the JVM it
launches through py4j, and the pyspark Python workers the JVM forks. A
daemonised worker is reparented when its parent exits, normally to PID 1,
where its CPU time is lost to any parent-side ``RUSAGE_CHILDREN`` count.
``become_subreaper`` makes this process the reaper of every orphaned
descendant instead, so they stay in the tree that ``TreeSampler`` walks,
and their CPU lands in this process's ``RUSAGE_CHILDREN`` once reaped.

CPU is read from ``/proc/<pid>/stat``: utime + stime of each live process
plus cutime + cstime (descendants it has already reaped). A process alive
at both ends of a window contributes its own delta, clamped at 0 (a PID
can be reused); one born inside the window contributes all of its time.
This process's own share comes from ``getrusage`` (SELF + CHILDREN).
"""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> bool:
    """Adopt orphaned descendants (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl.argtypes = [
            ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
            ctypes.c_ulong, ctypes.c_ulong,
        ]
        libc.prctl.restype = ctypes.c_int
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _read_stat(pid: int) -> tuple[int, str, float, int, int] | None:
    """(ppid, state, cpu seconds incl. reaped children, rss bytes, start
    ticks) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    rest = raw[raw.rfind(")") + 2:].split()
    state, ppid = rest[0], int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    start = int(rest[19])
    rss = int(rest[21]) * _PAGE
    return ppid, state, (utime + stime + cutime + cstime) / _TICK, rss, start


def _descendants(
    root: int, skip: set[int] | frozenset[int] = frozenset()
) -> dict[int, tuple[str, float, int, int]]:
    """pid -> (state, cpu_s, rss, start) for every descendant of ``root``,
    leaving out the subtrees rooted at ``skip``."""
    procs: dict[int, tuple[int, str, float, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[0], []).append(pid)
    out: dict[int, tuple[str, float, int, int]] = {}
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        if pid in skip:
            continue
        ppid, state, cpu, rss, start = procs[pid]
        out[pid] = (state, cpu, rss, start)
        stack.extend(children.get(pid, []))
    return out


def _self_cpu() -> float:
    s = resource.getrusage(resource.RUSAGE_SELF)
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


class TreeSampler:
    """Samples the tree's resident memory in a background thread, reaps
    adopted zombies, and answers CPU-time queries for the whole tree.

    ``foreign`` holds PIDs of helper processes that are not part of the
    engine (the stub server): their subtrees are not counted, and their
    exit status is left to their own ``Popen``. Every other zombie child is
    reaped here so its CPU time is folded into ``RUSAGE_CHILDREN``.
    """

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.foreign: set[int] = set()
        self.peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="treesampler", daemon=True)

    def __enter__(self) -> TreeSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _reap(self, procs: dict[int, tuple[str, float, int, int]]) -> None:
        me = os.getpid()
        for pid, (state, *_rest) in procs.items():
            if state == "Z" and pid not in self.foreign:
                st = _read_stat(pid)
                if st is not None and st[0] == me:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            procs = _descendants(me, self.foreign)
            self._reap(procs)
            own = _read_stat(me)
            rss = sum(p[2] for p in procs.values()) + (own[3] if own else 0)
            with self._lock:
                self.peak_rss = max(self.peak_rss, rss)

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0

    def cpu_snapshot(self) -> tuple[float, dict[tuple[int, int], float]]:
        """(own cpu incl. reaped children, {(pid, start): cpu} of live descendants)."""
        procs = _descendants(os.getpid(), self.foreign)
        return _self_cpu(), {(pid, p[3]): p[1] for pid, p in procs.items()}

    @staticmethod
    def cpu_between(
        a: tuple[float, dict[tuple[int, int], float]],
        b: tuple[float, dict[tuple[int, int], float]],
    ) -> float:
        """Tree CPU seconds spent between two snapshots."""
        total = max(b[0] - a[0], 0.0)
        for key, cpu in b[1].items():
            total += max(cpu - a[1].get(key, 0.0), 0.0)
        return total


def drain_descendants(timeout_s: float = 30.0) -> None:
    """Wait until every descendant has exited, reaping each; kill what is
    still alive after ``timeout_s``."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        procs = _descendants(me)
        for pid, (state, *_rest) in procs.items():
            st = _read_stat(pid)
            if state == "Z" and st is not None and st[0] == me:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
        if not procs:
            return
        if not killed and time.monotonic() > deadline:
            for pid in procs:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 10
        elif killed and time.monotonic() > deadline:
            return
        time.sleep(0.05)

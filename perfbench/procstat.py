"""CPU time and resident memory of this process and everything it started
(the Spark JVM and its Python workers), read from ``/proc``.

A process's ``cutime``/``cstime`` hold the CPU of children it has reaped,
so summing ``utime + stime + cutime + cstime`` over the live tree keeps the
CPU of workers that already exited. RSS is summed over the tree, so pages
shared between forked workers count once per process.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu_s, rss_bytes, kind) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().split(b"\0")[0].decode(errors="replace")
    except OSError:
        return None
    comm_end = raw.rindex(")")
    fields = raw[comm_end + 2:].split()
    # fields[0] is field 3 (state) of proc(5); a zombie has already ended
    if fields[0] == "Z":
        return None
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE
    base = os.path.basename(cmd)
    kind = "jvm" if base == "java" else "python" if base.startswith("python") else "other"
    return ppid, cpu, rss, kind


def tree(root: int | None = None) -> dict:
    """{pid: (cpu_s, rss_bytes, kind)} for ``root`` and its descendants;
    ``kind`` is ``driver`` for the root itself."""
    root = os.getpid() if root is None else root
    info, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        info[int(name)] = st
        children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            _, cpu, rss, kind = info[pid]
            out[pid] = (cpu, rss, "driver" if pid == root else kind)
        todo.extend(children.get(pid, ()))
    return out


def cpu_by_kind(snap: dict) -> dict:
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
    for cpu, _, kind in snap.values():
        out[kind] += cpu
    return out


class Sampler:
    """Samples the tree every ``interval`` seconds on a thread; keeps the
    peak summed RSS since the last ``take_peak`` and the most Python worker
    processes seen at once."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.max_workers = 0
        self._peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        snap = tree()
        with self._lock:
            self._peak_rss = max(self._peak_rss, sum(r for _, r, _ in snap.values()))
        self.max_workers = max(self.max_workers,
                               sum(1 for _, _, k in snap.values() if k == "python"))

    def take_peak(self) -> int:
        """Peak summed RSS in bytes since the previous call; resets it."""
        self.sample()
        with self._lock:
            peak, self._peak_rss = self._peak_rss, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_tree(timeout: float = 30.0) -> None:
    """Wait for every descendant of this process to exit, reaping our own
    children; kill what is still running after ``timeout`` seconds."""
    import signal

    def reap() -> list:
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        return [p for p in tree() if p != os.getpid()]

    deadline = time.time() + timeout
    while (rest := reap()) and time.time() < deadline:
        time.sleep(0.1)
    for p in rest:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 5
    while reap() and time.time() < deadline:
        time.sleep(0.1)

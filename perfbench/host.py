"""Host record, peak-RSS sampling and child-process cleanup, all from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def spin_probe(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread Python loop: a contended or
    throttled window shows up as a slower probe."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return time.perf_counter() - t0


def host_record() -> dict:
    return {"nproc": nproc(), "loadavg": loadavg(), "spin_s": spin_probe()}


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
        # the command name may hold spaces or parens: fields follow the last ')'
        out[int(name)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    return out


def descendants() -> list[int]:
    """Every live process below this one (the JVM, its Python workers, and
    any child the program started)."""
    kids: dict[int, list[int]] = {}
    for pid, parent in _ppid_map().items():
        kids.setdefault(parent, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_by_kind(pids: list[int]) -> dict[str, int]:
    """Summed RSS bytes of ``pids``, split into the JVM ("java") and the rest."""
    out = {"java": 0, "other": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "java" if f.read().strip() == "java" else "other"
            with open(f"/proc/{pid}/statm") as f:
                out[kind] += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


class PeakRss:
    """Samples the summed RSS of this process's descendants (the Spark JVM
    and its Python workers) every ``interval`` seconds while active; keeps
    the peak of the sum and of each part."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_by_kind = {"java": 0, "other": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        by_kind = rss_by_kind(descendants())
        self.peak = max(self.peak, sum(by_kind.values()))
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


def reap_children(timeout: float = 20.0) -> list[int]:
    """SIGTERM every remaining descendant, wait for them, SIGKILL stragglers.
    Returns the pids that were still alive when called."""
    left = descendants()
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in left if _alive(p)]
        if not alive:
            break
        time.sleep(0.1)
    for pid in [p for p in left if _alive(p)]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
    return left


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # zombie: reap it if it is our child
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True

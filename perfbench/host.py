"""Host stamps and memory sampling for benchmark runs.

Every run records the host's state next to its numbers, so a reading taken
in a throttled window can be recognized; no run is dropped or merged.
"""

from __future__ import annotations

import os
import signal
import threading
import time

def host_probe() -> float:
    """First-touch page-fault bandwidth in MB/s over 100 MB of fresh pages
    (the probe ``bench.host_probe`` records): a throttled host reads one or
    two orders of magnitude below its normal figure."""
    import numpy as np

    a = np.empty(12_500_000, dtype=np.float64)
    t0 = time.perf_counter()
    a.fill(1.0)
    return round(100.0 / max(time.perf_counter() - t0, 1e-9), 1)


def stamp() -> dict:
    return {"probe_mb_s": host_probe(), "loadavg": list(os.getloadavg()), "t": time.time()}


def _ppids() -> dict:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; fields resume after its ')'
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    kids: dict = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_mb(root: int) -> dict:
    """Proportional resident MB (PSS) of ``root`` and each descendant, keyed
    by "pid:command".  PSS splits pages shared after a fork between the
    sharers, so a JVM that forks a helper process is not counted twice."""
    out = {}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, StopIteration, ValueError):
            continue
        out[f"{pid}:{comm}"] = kb / 1024
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``period`` seconds
    while the ``with`` block runs.  One sample reads every process's
    ``smaps_rollup`` (about 13 ms with a 2 GB JVM heap), so the period keeps
    the sampler's own CPU use near 3% of one core."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def _sample(self) -> None:
        parts = tree_rss_mb(os.getpid())
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def reap_children(timeout: float = 30.0) -> list[int]:
    """Wait until every descendant of this process has exited; kill what is
    still alive at ``timeout``.  Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me) and time.monotonic() < deadline:
        _reap()
        time.sleep(0.2)
    killed = descendants(me)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    end = time.monotonic() + 10
    while descendants(me) and time.monotonic() < end:
        _reap()
        time.sleep(0.1)
    return killed


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass

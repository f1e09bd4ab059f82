"""This process tree's CPU time, and the peak summed RSS of its Python
descendants (the Spark Python workers).

Both read only the PIDs reachable from this process through
``/proc/<pid>/task/<tid>/children``. The RSS sampler polls at most once per
second; the JVM is a descendant but its RSS is not counted, because its
heap size is set by configuration, not by the work.
"""

from __future__ import annotations

import glob
import os
import threading


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants,
    including the children each has already reaped. A stolen or idle CPU
    adds nothing, so on a shared host this is steadier than wall time."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _python_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = os.path.basename(f.read().split(b"\0", 1)[0])
        if not exe.startswith(b"python"):
            return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


class RssSampler:
    """Background poller; ``peak_mb`` is the largest sum seen between start and stop."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        kb = sum(_python_rss_kb(p) for p in descendants(os.getpid()))
        self.peak_mb = max(self.peak_mb, kb / 1024.0)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(1.0):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

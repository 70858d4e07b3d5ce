"""Process-tree RSS and CPU from /proc (psutil is not installed).

The benchmark's tree is the Python driver process, the Spark JVM it launches and
the Python workers the JVM forks; all of them are descendants of the
driver, so one walk over /proc finds them.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: fields start after the last ')'
    return s[s.rindex(")") + 2:].split()


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and every descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [(root, 0)], [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, ()):
            out.append((c, parent))
            todo.append(c)
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root)[1:]]


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the tree. A child still running its parent JVM's
    command line is a fork that has not exec'd yet (Hadoop shells out for
    file operations): its pages are the JVM's, so it is not counted."""
    total_kb = 0
    for pid, parent in _tree(root):
        cmd = _cmdline(pid)
        if cmd.split(b"\0", 1)[0].endswith(b"java") and cmd == _cmdline(parent):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    ticks = 0
    for pid in [root] + descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(v) for v in f[11:15])
    return ticks / _TICK


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._done.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    live = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and (_stat_fields(p) or ["Z"])[0] != "Z"]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass

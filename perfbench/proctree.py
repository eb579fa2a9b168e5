"""Process-tree helpers: peak RSS sampling and whole-tree shutdown.

The server's tree is the launcher, its JVM and the JVM's pyspark daemons;
the daemons start their own process groups, so a group kill misses them.
A recycled pid is told apart by its start time.
Trees are found by walking parent links in ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree on one background thread."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_kb = 0
        #: (monotonic ns, kB) of every sample
        self.samples: list[tuple[int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        kb = sum(rss_kb(p) for p in tree(self.root))
        self.samples.append((time.monotonic_ns(), kb))
        self.peak_kb = max(self.peak_kb, kb)

    def median_mb(self, windows) -> float:
        """Median RSS over the samples taken inside ``(t0, t1)`` windows."""
        import statistics

        kbs = [kb for t, kb in self.samples if any(a <= t <= b for a, b in windows)]
        return statistics.median(kbs or [kb for _t, kb in self.samples]) / 1024.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command may hold spaces or parens: fields follow the last ')'
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _identity(pids) -> set[tuple[int, str]]:
    """(pid, start time) pairs, so a recycled pid is not mistaken for ours."""
    out = set()
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            out.add((pid, st[19]))
    return out


def _alive(ident: tuple[int, str]) -> bool:
    st = _stat(ident[0])
    return st is not None and st[19] == ident[1] and st[0] != "Z"


def kill_tree(proc, timeout_s: float = 30.0) -> None:
    """SIGKILL the tree of a ``subprocess.Popen`` and wait until all of it
    has ended. Nothing of a run's server outlives it (its scratch directory
    is removed next), so there is no graceful stop to wait for."""
    idents = _identity(tree(proc.pid))
    for pid, _start in idents:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while any(_alive(i) for i in idents):
        if time.monotonic() > deadline:
            left = sorted(i[0] for i in idents if _alive(i))
            raise RuntimeError(f"processes {left} survived SIGKILL")
        proc.poll()  # reap the launcher, or it stays a zombie
        time.sleep(0.02)
    proc.wait(timeout=10)

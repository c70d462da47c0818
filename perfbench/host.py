"""Host-side evidence for one run: peak RSS of the process tree and the
host regime (CPU steal, load average, first-touch fault throughput).

The regime is recorded, never used as a gate: it lets a noisy run be
spotted after the fact."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def tree_rss_bytes(root: int | None = None) -> int:
    """Summed resident set of ``root`` and all its descendants: this
    process, the JVM it launched and the Python workers the JVM forked."""
    tree = _children()
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(tree.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling :func:`tree_rss_bytes`; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of all CPU time between two :func:`cpu_times` readings that
    the hypervisor gave to other guests (field 8 of the cpu line)."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / (sum(d) or 1) if len(d) > 7 else 0.0


def regime_snapshot() -> dict:
    from sketch_spark import mem

    return {
        "loadavg_1m": os.getloadavg()[0],
        "fault_mb_s": mem.first_touch_mb_s(),
        "hugepage_tuning": mem.last_tuning,
    }
